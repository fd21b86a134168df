#!/usr/bin/env python3
"""Record the golden output digests the benchmark checks against.

    python3 perfbench/record.py

Runs each workload once, untraced, digests every output the way
run.py does, and cross-checks each digest against the engine's DuckDB
oracle (`SparkEntry.oracleSql`) wherever one exists. Writes
golden.json beside this file. Run it on the commit whose outputs are
the reference, never to make a failing benchmark pass.
"""
import hashlib
import json
import shutil
import sys

import duckdb

import run as bench

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def oracle_digests(jars, classpath, workload, work):
    """Digest of each oracle query's DuckDB result over the same tables."""
    path = work / "oracles.json"
    bench.run_jvm(jars, classpath, workload, 0, 0, work,
                  extra=(f"oracles={path}",))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{bench.DATA / t}.parquet'")
    return {name: bench.arrow_digest(con.sql(sql).arrow())
            for name, sql in json.loads(path.read_text()).items()}


def main():
    jars = bench.spark_jars()
    classpath, _ = bench.build(jars)
    engine = bench.source_sha(bench.engine_sources())
    data = hashlib.sha256()
    for p in sorted(bench.DATA.glob("*.parquet")):
        data.update(p.name.encode() + p.read_bytes())
    digests, oracle = {}, {}
    for workload in bench.WORKLOADS:
        work = bench.WORK / f"record-{workload}"
        shutil.rmtree(work, ignore_errors=True)
        try:
            _, result = bench.run_jvm(jars, classpath, workload, 0, 0, work)
            for c in result["calls"]:
                if c["error"] is not None:
                    sys.exit(f"{c['name']} failed: {c['error']}")
                digests[c["name"]] = bench.digest_of(
                    bench.output_of(c, work / "out"))
            for name, d in oracle_digests(jars, classpath, workload,
                                          work).items():
                oracle[name] = "match" if d == digests[name] else "mismatch"
                print(f"{oracle[name]:8} {name}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for name in digests:
        oracle.setdefault(name, "no oracle")
    bench.GOLDEN.write_text(json.dumps(
        {"engine_sha": engine, "data_sha": data.hexdigest(),
         "digests": dict(sorted(digests.items())),
         "oracle": dict(sorted(oracle.items()))}, indent=1) + "\n")
    bad = [n for n, v in oracle.items() if v == "mismatch"]
    print(f"{len(digests)} digests recorded, "
          f"{sum(v == 'match' for v in oracle.values())} oracle matches, "
          f"{len(bad)} mismatches {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
