"""Alternating A/B wall-clock probe (the only valid comparison on this
bursty-steal host — see memory/bench-noise-host): for each named query,
run A and B ALTERNATING n times each, cold cache per run (clearCache,
same isolation as bench.py::_measure_query), report per-run walls and
min. A/B variants are selected by a conf flag or by env the caller
controls; default mode times the SAME code twice (sanity: A==B within
noise).

Usage:
  python tools/ab_probe.py [--conf k=v[,k=v]] [--runs N] q1 [q2 ...]

--conf applies to the B side only (set before construct+run, restored
after), so A is the session default.
"""
import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anomaly_detection_iiot_spark.queries import REGISTRY
from anomaly_detection_iiot_spark.session import get_spark, scoped_conf


def run_once(spark, name, sf_dir):
    spark.catalog.clearCache()
    t0 = time.time()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return time.time() - t0


def calibration(spark):
    t0 = time.time()
    spark.range(0, 500_000_000, 1, 32).selectExpr(
        "sum(id * 2 + 1) AS s"
    ).write.mode("overwrite").format("noop").save()
    return time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", default="")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-probe")
    spark.sparkContext.setLogLevel("ERROR")
    confs = dict(kv.split("=", 1) for kv in args.conf.split(",") if kv)
    # warmup
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    print(f"calibration {calibration(spark):.3f}s")
    for name in args.queries:
        a_runs, b_runs = [], []
        for i in range(args.runs):
            a_runs.append(run_once(spark, name, sf_dir))
            if confs:
                with scoped_conf(spark, confs):
                    b_runs.append(run_once(spark, name, sf_dir))
        fmt = lambda rs: "[" + " ".join(f"{r:.2f}" for r in rs) + "]"
        line = f"{name}: A min {min(a_runs):.3f} {fmt(a_runs)}"
        if b_runs:
            line += f" | B min {min(b_runs):.3f} {fmt(b_runs)}"
        print(line)
    print(f"calibration {calibration(spark):.3f}s")


if __name__ == "__main__":
    main()
