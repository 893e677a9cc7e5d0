"""One benchmark run in a fresh process; ``run.py`` starts it.

Load shape: a closed loop with one client.  The main thread submits the
queries of a pass one after another, each built by
``plans.registry.QUERIES[name].fn(spark, sf_dir)`` and executed with a
noop sink, on one ``local[nproc]`` session.

A run is: fresh process -> set-up -> the correctness check (the first,
cold pass) -> host canary -> two warm-up passes -> warm passes for
``--seconds`` -> host canary.  Only set-up and the warm passes are
timed.  The warm-up passes are untimed because the first noop passes
after the check, or after the canary, run 10-40% slower than later ones
(``v15``'s pinned loop keeps getting faster into its third pass).  With
``--trace 1`` the warm passes alternate between untraced and traced
ones; a traced pass records spans and reads Spark's status stores after
it ends, and the per-layer numbers come from those passes.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up is timed from the process's first line

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from perfbench.digest import load_expected, result_digest  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WARMUP_PASSES = 2
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def canary(spark, cpus: int) -> dict[str, float]:
    """``bench.py``'s fixed-work host probes: codegen CPU, then shuffle.
    A diagnostic only; no metric is normalised by it."""
    t0 = time.perf_counter()
    (
        spark.range(0, 64_000_000, 1, cpus)
        .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS h")
        .write.format("noop").mode("overwrite").save()
    )
    cpu_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    (
        spark.range(0, 4_000_000, 1, cpus)
        .selectExpr("id % 100000 AS k")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
    )
    return {"cpu_s": cpu_s, "shuffle_s": time.perf_counter() - t0}


def rounds(seconds: float, minimum: int):
    """Count rounds while one more, as long as the mean round so far,
    still ends within ``seconds`` of the first; run at least ``minimum``."""
    start = time.perf_counter()
    n = 0
    while True:
        elapsed = time.perf_counter() - start
        if n >= minimum and elapsed * (n + 1) / n > seconds:
            return
        yield n
        n += 1


class Mismatch(Exception):
    """A query's result differs from its oracle-checked digest."""


class Run:
    """Submits passes of one workload and counts every execution."""

    def __init__(self, spark, queries, names, seed: int):
        self.spark = spark
        self.queries = queries
        self.names = list(names)
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def order(self) -> list[str]:
        """The next pass's query order; the only use of the seed."""
        return self.rng.sample(self.names, len(self.names))

    def build(self, name: str):
        return self.queries[name].fn(self.spark, DATA_DIR)

    @staticmethod
    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)

    def run_pass(self, query) -> tuple[float, float]:
        """Submit every query once, in the seed's order, through
        ``query(name)``; count each attempt, and each exception as a
        failure.  Persisted RDDs are dropped after the pass, outside its
        window.  Returns the pass's (epoch start, wall time)."""
        epoch, start = time.time(), time.perf_counter()
        for name in self.order():
            self.attempted += 1
            try:
                query(name)
            except Mismatch as exc:
                self.fail(name, str(exc))
            except Exception:  # noqa: BLE001 - counted, reported, run goes on
                self.fail(name, traceback.format_exc(limit=3))
        wall = time.perf_counter() - start
        self.release()
        return epoch, wall

    def timed_pass(self) -> tuple[float, dict[str, float]]:
        """(pass wall time, per-query latency) of one untraced pass."""
        latency: dict[str, float] = {}

        def timed(name: str) -> None:
            t = time.perf_counter()
            self.execute(self.build(name))
            latency[name] = time.perf_counter() - t

        return self.run_pass(timed)[1], latency

    def check_pass(self, expected: dict) -> dict[str, str]:
        """Compare every query's result digest with the oracle-checked one."""
        outcome: dict[str, str] = {}

        def check(name: str) -> None:
            outcome[name] = "exception"
            digest, rows = result_digest(self.build(name))
            want = expected[name]
            if digest != want["sha256"] or rows != want["rows"]:
                outcome[name] = "mismatch"
                raise Mismatch(f"result digest {digest[:12]} ({rows} rows) != "
                               f"expected {want['sha256'][:12]} ({want['rows']} rows)")
            outcome[name] = "ok"

        self.run_pass(check)
        return outcome

    def release(self) -> None:
        """Drop every persisted RDD, as ``bench.py`` does between queries."""
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--result", required=True, help="where to write the run record")
    args = ap.parse_args(argv)

    from openseizuredatabase_spark.plans.registry import QUERIES
    from openseizuredatabase_spark.session import get_spark

    spark = get_spark("perfbench", cpus=args.cpus)
    spark.range(1000).count()
    setup_s = time.perf_counter() - _T0

    names = WORKLOADS[args.workload]
    run = Run(spark, QUERIES, names, args.seed)
    t_check = time.perf_counter()
    check = run.check_pass(load_expected())
    check_s = time.perf_counter() - t_check
    canaries = [canary(spark, args.cpus)]
    for _ in range(WARMUP_PASSES):
        run.timed_pass()

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    walls: list[float] = []
    per_query: dict[str, list[float]] = {name: [] for name in names}

    def untraced_pass() -> None:
        wall, lat = run.timed_pass()
        walls.append(wall)
        for name, t in lat.items():
            per_query[name].append(t)

    if args.trace:
        tracer = Tracer(run, args.cpus, tempfile.gettempdir())
        for i in rounds(args.seconds, minimum=1):
            # which pass of a pair goes first alternates with the round
            # and the seed: passes still get faster late in a session,
            # which would otherwise bias the overhead one way
            pair = (untraced_pass, tracer.traced_pass)
            for step in pair if (i + args.seed) % 2 == 0 else pair[::-1]:
                step()
        record["layers"] = tracer.summary(statistics.median(walls))
        record["spans"] = tracer.spans_out()
    else:
        for _ in rounds(args.seconds, minimum=2):
            untraced_pass()
    canaries.append(canary(spark, args.cpus))
    latencies = [t for samples in per_query.values() for t in samples]

    record.update(
        setup_s=setup_s,
        wall_s=statistics.median(walls),
        pass_walls=walls,
        query_p50_s=statistics.median(latencies) if latencies else None,
        query_samples=len(latencies),
        query_latencies=per_query,
        attempted=run.attempted,
        failed=run.failed,
        fail_frac=run.failed / run.attempted,
        errors=run.errors,
        check=check,
        check_s=check_s,
        run_s=time.perf_counter() - _T0,
        canary=canaries,
    )
    spark.stop()
    with open(args.result, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
