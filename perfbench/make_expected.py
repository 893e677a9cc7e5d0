"""Record ``expected.json``: the oracle-checked result digest of every
workload query on the benchmark's data.

    python3 perfbench/make_expected.py --driver-memory 4g

It runs in the same environment as a benchmark run (``run.py``'s
``run_environment``: a per-run temp dir that is deleted afterwards, the
stated driver heap, ``local[n]`` over the CPUs the process may use).
Each query first goes through the repository's oracle gate
(``plans.oracle_check.compare_query``: Spark against its DuckDB oracle,
byte-exact).  The query's result is persisted while the gate collects
it, and the digest is taken from those same rows.  Only a query that
passes gets a digest; the script fails if any query does not.  Re-run it
when a workload's query list or the data changes.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.digest import EXPECTED_PATH, result_digest  # noqa: E402
from perfbench.harness import DATA_DIR  # noqa: E402
from perfbench.run import run_environment  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def record_digests(cpus: int) -> int:
    from openseizuredatabase_spark.plans.oracle_check import _duckdb_conn, compare_query
    from openseizuredatabase_spark.plans.registry import QUERIES
    from openseizuredatabase_spark.session import get_spark

    spark = get_spark("perfbench-expected", cpus=cpus)
    con = _duckdb_conn(DATA_DIR)
    expected, failures = {}, 0
    for workload, names in WORKLOADS.items():
        for name in names:
            spec = QUERIES[name]
            results = []

            def persisted(spark, sf_dir, fn=spec.fn, results=results):
                df = fn(spark, sf_dir).persist()
                results.append(df)
                return df

            ok, msg = compare_query(spark, con, dataclasses.replace(spec, fn=persisted), DATA_DIR)
            print(f"{'PASS' if ok else 'FAIL'} {workload:14s} {name:32s} {msg}")
            if ok:
                digest, rows = result_digest(results[0])
                expected[name] = {"sha256": digest, "rows": rows, "oracle": spec.oracle is not None}
            else:
                failures += 1
            for df in results:
                df.unpersist()
    spark.stop()
    if failures:
        print(f"{failures} queries failed their oracle; expected.json not written")
        return 1
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--driver-memory", required=True, help="driver JVM heap, e.g. 4g")
    ap.add_argument("--cpus", type=int, help=argparse.SUPPRESS)  # set in the child
    args = ap.parse_args(argv)
    if args.cpus:
        return record_digests(args.cpus)
    with run_environment(args.driver_memory) as (_run_dir, env, cpus):
        cmd = [sys.executable, "-m", "perfbench.make_expected",
               "--driver-memory", args.driver_memory, "--cpus", str(cpus)]
        return subprocess.call(cmd, cwd=ROOT, env=env)


if __name__ == "__main__":
    sys.exit(main())
