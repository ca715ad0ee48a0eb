"""Core-elasticity probe: would this engine actually USE a bigger
cluster? Runs CPU-bound headline queries at local[4/8/16/32] (each
core count in its own subprocess — master and shuffle partitions are
session-construction-time) and prints the speedup curve.

What good looks like: wall time falls roughly with 1/cores until the
query's parallel fraction is exhausted (Amdahl knee), because the
repartition-for-CPU pattern (textsim._spread_docs and friends) splits
the work across every core instead of inheriting a single-split scan.
A flat curve would mean the operator is secretly serial — the
local-mode stand-in for "would 1000 executors help".

Usage:
    python tools/cores_probe.py [--queries t15_gopher_repetition,...]
    python tools/cores_probe.py --run-one <query> <sf_dir>   (child)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    # pure parallel CPU: 4-way n-gram explode + hash aggs
    "t15_gopher_repetition",
    # shingle -> minhash -> band explode: CPU + one vocab shuffle
    "d4_lsh_candidates",
    # per-client training tasks (numpy kernels inside executors)
    "m2_lstm_train_loss",
]
CORES = [4, 8, 16, 32]


def run_one(query: str, sf_dir: str) -> None:
    from anomaly_detection_iiot_spark.queries import REGISTRY
    from anomaly_detection_iiot_spark.session import get_spark

    spark = get_spark("cores-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if query.startswith("runner:"):
        # scale_probe's per-scale-tuned runners (e.g. runner:d13 =
        # _d13_scaled, k ∝ N): the registry fn pins index knobs for
        # oracle parity, which at inflated corpora measures a
        # mis-tuned index, not the operator (see _d13_scaled doc)
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import scale_probe as sp

        fn = sp.RUNNERS[query.split(":", 1)[1]]
    else:
        fn = REGISTRY[query].fn
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
    runs = []
    for _ in range(3):
        # cold owned caches per run, matching bench.py: the
        # elasticity question for the iterative family is whether the
        # CACHE-BUILD stage parallelizes, so every run must build it.
        spark.catalog.clearCache()
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs.append(time.time() - t0)
    print(json.dumps({"wall_sec": round(min(runs), 3)}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--run-one", nargs=2, metavar=("QUERY", "SF_DIR"))
    args = ap.parse_args()
    if args.run_one:
        run_one(*args.run_one)
        return

    queries = args.queries.split(",")
    results: dict[str, dict[int, float]] = {q: {} for q in queries}
    for q in queries:
        for n in CORES:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--run-one",
                    q,
                    args.sf_dir,
                ],
                capture_output=True,
                text=True,
                env=env,
                cwd=REPO,
            )
            if proc.returncode != 0:
                print(f"FAIL {q} @{n}: {proc.stderr[-800:]}", file=sys.stderr)
                continue
            wall = json.loads(proc.stdout.strip().splitlines()[-1])[
                "wall_sec"
            ]
            results[q][n] = wall
            print(f"ran {q} @local[{n}]: {wall}s", file=sys.stderr)

    print("\n| query | local[4] | local[8] | local[16] | local[32] | 4->32 speedup |")
    print("|---|---|---|---|---|---|")
    for q in queries:
        r = results[q]
        if len(r) == len(CORES):
            sp = round(r[4] / r[32], 2)
            print(
                f"| {q} | {r[4]}s | {r[8]}s | {r[16]}s | {r[32]}s | {sp}x |"
            )


if __name__ == "__main__":
    main()
