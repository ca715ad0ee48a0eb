"""Benchmark of the anomaly-analytics engine: one workload per run.

    python3 perfbench/run.py --workload iiot_anomaly --seed 1 --seconds 8 --trace 0

Run from the repository root. Load model: closed loop, one client. A
pass runs the workload's items one after another (``workloads.py``) and
forces each one; the engine runs on ``local[nproc]`` in its own Spark
application. A run:

1. generates the inputs from ``--seed`` (``gen.py``, cached per seed
   under ``.bench_data/perfbench/``; not part of any metric);
2. sets up: starts the session, reads every input table's schema and
   runs one untimed warm-up pass that collects each item's result
   (``setup_s``);
3. checks those results: DuckDB oracle for registry items that have
   one, row counts for the rest, and the injected fault / batch twin
   for the bearing pipeline and the streams;
4. runs timed passes for ``--seconds`` (at least two), each item
   isolated (cache cleared, session conf restored afterwards);
5. prints one JSON line. ``--trace 0``: end-to-end metrics. ``--trace
   1``: alternates untraced and traced passes and prints the per-layer
   metrics (``tracing.py``), writing spans and the per-item breakdown
   to ``.bench_data/perfbench/trace/``.

Every file the run writes stays under ``.bench_data/perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_data", "perfbench")
# the cores this process may run on, as `nproc` counts them
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"


def pin_environment(tmp: str) -> None:
    """Everything a run writes goes under ``tmp``; Python workers find
    the package whatever the caller's cwd and PYTHONPATH."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path.insert(0, ROOT)


def start_session(tmp: str, event_log: str | None):
    from anomaly_detection_iiot_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # whatever SPARK_GRAFT_CPUS says: one core per local task slot
    return get_spark(
        "perfbench", master=f"local[{NPROC}]", shuffle_partitions=NPROC,
        extra_conf=conf,
    )


class Runner:
    """Runs items with isolation and counts what each one leaks."""

    def __init__(self, ctx, items):
        self.ctx, self.items = ctx, items
        self.conf_leaks = 0
        self.leaked_keys: set[str] = set()
        self.errors: dict[str, str] = {}
        self.failed_runs = 0
        self.attempted = 0
        self.item_walls: list[float] = []
        self.by_item: dict[str, list] = {}
        self.stream_batches: list[float] = []  # triggerExecution ms
        self.stream_rows = 0
        self.cold_walls: dict[str, float] = {}  # warm-up pass, per item

    def isolated(self, item, fn):
        spark = self.ctx.spark
        spark.catalog.clearCache()
        before = spark.conf.getAll
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.failed_runs += 1
            self.errors.setdefault(item.name, f"{type(e).__name__}: {e}"[:500])
            return None
        finally:
            after = spark.conf.getAll
            changed = [k for k in set(before) | set(after) if before.get(k) != after.get(k)]
            self.conf_leaks += len(changed)
            self.leaked_keys.update(changed)
            for k in changed:
                try:
                    if k in before:
                        spark.conf.set(k, before[k])
                    else:
                        spark.conf.unset(k)
                except Exception:  # noqa: BLE001 - static conf, cannot restore
                    pass

    def collect_pass(self) -> dict:
        results = {}
        for item in self.items:
            t0 = time.perf_counter()
            results[item.name] = self.isolated(
                item, lambda: item.act(self.ctx, item.build(self.ctx), True)
            )
            self.cold_walls[item.name] = round(time.perf_counter() - t0, 3)
        return results

    def timed_pass(self, tracer=None, pass_no: int = 0) -> float:
        t0 = time.perf_counter()
        for item in self.items:
            def once():
                if tracer is not None:
                    return tracer.run_item(item, self.ctx, pass_no), None
                a = time.perf_counter()
                res = item.act(self.ctx, item.build(self.ctx), False)
                return time.perf_counter() - a, res

            out = self.isolated(item, once)
            if out is None:
                continue
            wall, res = out
            self.item_walls.append(wall)
            self.by_item.setdefault(item.name, []).append(round(wall, 3))
            if item.stream and res is not None:
                from tracing import progress_records

                for p in progress_records(res[0]):
                    self.stream_batches.append(p["durationMs"]["triggerExecution"])
                    self.stream_rows += p.get("numInputRows", 0)
        return time.perf_counter() - t0


def peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants:
    the driver JVM and the Python workers it forked."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                st = dict(line.split(":", 1) for line in fh if ":" in line)
            kb[f"{st['Name'].strip()}:{p}"] = int(st.get("VmHWM", "0 kB").split()[0])
        except OSError:
            pass
    return sum(kb.values()) / 1024.0, kb


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def duck_connection(tables: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        name = f.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables}/{f}')"
        )
    return con


def layer_metrics(tracer, passes: int) -> dict:
    """Per-pass means of the traced item records."""
    recs = tracer.items
    tot = lambda k: sum(r.get(k, 0) for r in recs) / passes  # noqa: E731
    prog = [p for r in recs for p in r.get("progress", [])]
    dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in prog) / passes  # noqa: E731
    ops = [so for p in prog for so in p.get("stateOperators", [])]
    last = [so for r in recs if r.get("progress") for so in r["progress"][-1].get("stateOperators", [])]
    m = {
        "queries.construct_s": (tot("construct_s"), "s"),
        "queries.construct_jobs": (sum(len(r["construct_jobs"]) for r in recs) / passes, "count"),
        "spark.scheduler.jobs": (tot("jobs"), "count"),
        "spark.scheduler.stages": (sum(len(r["stages"]) for r in recs) / passes, "count"),
        "spark.scheduler.tasks": (tot("tasks"), "count"),
        "spark.catalyst.plan_ms": (tot("plan_ms"), "ms"),
        "jvm.jit_ms": (tot("jit_ms"), "ms"),
        "jvm.gc_ms": (tot("gc_ms"), "ms"),
        "codegen.compiles": (tot("codegen_compiles"), "count"),
        "codegen.compile_ms": (tot("codegen_ms"), "ms"),
        "spark.executor.run_s": (tot("run_s"), "s"),
        "spark.executor.cpu_s": (tot("cpu_s"), "s"),
        "spark.executor.gc_s": (tot("gc_s"), "s"),
        "spark.shuffle.write_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "spark.shuffle.read_bytes": (tot("shuffle_read_bytes"), "bytes"),
        "spark.shuffle.fetch_wait_s": (tot("fetch_wait_s"), "s"),
        "spark.spill_bytes": (tot("spill_bytes"), "bytes"),
        "spark.python.total_s": (tot("py_total_s"), "s"),
        "spark.python.boot_s": (tot("py_boot_s"), "s"),
        "spark.python.init_s": (tot("py_init_s"), "s"),
        "spark.python.bytes_sent": (tot("py_bytes_sent"), "bytes"),
        "spark.python.bytes_received": (tot("py_bytes_received"), "bytes"),
        "spark.python.rows": (tot("py_rows"), "count"),
        "operators.cache.persisted_sites": (tot("cache_rdds"), "count"),
        "operators.cache.bytes": (tot("cache_bytes"), "bytes"),
        "sources.read_bytes": (tot("read_bytes"), "bytes"),
        "sources.read_rows": (tot("read_rows"), "count"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.commit_ms": (dur("commitOffsets"), "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.get_batch_ms": (dur("getBatch"), "ms"),
        "streaming.batches": (len(prog) / passes, "count"),
        "streaming.state_rows_max": (max((so.get("numRowsTotal", 0) for so in ops), default=0), "count"),
        "streaming.state_rows_final": (sum(so.get("numRowsTotal", 0) for so in last) / passes, "count"),
        "streaming.state_mem_bytes": (max((so.get("memoryUsedBytes", 0) for so in ops), default=0), "bytes"),
        "streaming.state_commit_ms": (sum(so.get("commitTimeMs", 0) for so in ops) / passes, "ms"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "anomaly_detection_iiot_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    pin_environment(tmp)
    import gen
    import tracing
    import workloads

    items = workloads.workload(args.workload)
    t = time.perf_counter()
    inputs, manifest = gen.generate(args.seed, os.path.join(WORK, "inputs"))
    input_gen_s = time.perf_counter() - t

    event_log = os.path.join(tmp, "eventlog") if args.trace else None
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(tmp, event_log)
        session_s = time.perf_counter() - t_setup
        for f in sorted(os.listdir(os.path.join(inputs, "tables"))):
            spark.read.parquet(os.path.join(inputs, "tables", f)).schema
        ctx = workloads.Ctx(spark, inputs, manifest)
        runner = Runner(ctx, items)
        results = runner.collect_pass()
        setup_s = time.perf_counter() - t_setup

        ctx.duck = duck_connection(ctx.tables)
        wrong: dict[str, list] = {}
        for item in items:
            if results[item.name] is None:
                continue
            try:
                problems = item.check(ctx, results[item.name])
            except Exception as e:  # noqa: BLE001 - a failed check is a wrong result
                problems = [f"check raised {type(e).__name__}: {e}"]
            if problems:
                wrong[item.name] = problems
        del results
        runner.item_walls.clear()
        runner.by_item.clear()
        runner.stream_batches.clear()
        runner.stream_rows = 0
        leaks_setup = runner.conf_leaks

        tracer = tracing.Tracer(spark, args.workload) if args.trace else None
        walls, traced_walls = [], []
        # traced runs go in untraced/traced/traced/untraced blocks, so
        # the warm-up trend across passes cancels out of the overhead
        block = (False, True, True, False) if tracer else (False,)
        t_run = time.perf_counter()
        # at least two untraced passes; a third does not fit a
        # benchmark round's time budget next to the set-up of each run
        min_walls = 2
        while len(walls) < min_walls or time.perf_counter() - t_run < args.seconds:
            for traced in block:
                if traced:
                    traced_walls.append(runner.timed_pass(tracer, len(traced_walls)))
                else:
                    walls.append(runner.timed_pass())
        rss, rss_parts = peak_rss_mb(os.getpid())
        failed = runner.failed_runs + len(wrong)
        attempted = runner.attempted
        if tracer is not None:
            # one application per run: its log is the only file there
            (log_name,) = os.listdir(event_log)
            tracer.attribute_event_log(os.path.join(event_log, log_name))
            metrics = layer_metrics(tracer, len(traced_walls))
            metrics["session.conf_leaks"] = {"value": float(leaks_setup), "unit": "count"}
            metrics["trace.wall_s"] = {"value": statistics.median(traced_walls), "unit": "s"}
            metrics["trace.overhead_s"] = {
                "value": statistics.median(traced_walls) - statistics.median(walls),
                "unit": "s",
            }
            tracer.write(
                os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "manifest": manifest,
                 "setup_s": setup_s, "untraced_walls": walls, "traced_walls": traced_walls,
                 "conf_leaked_keys": sorted(runner.leaked_keys),
                 "errors": runner.errors, "wrong": wrong},
            )
        else:
            # a stream or item that failed in every pass leaves no
            # samples: its metrics read 0 and the run reports failed > 0
            q, b = runner.item_walls, runner.stream_batches
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": statistics.median(walls), "unit": "s"},
                "query_p50_s": {"value": quantile(q, 0.5) if q else 0.0, "unit": "s"},
                "query_p90_s": {"value": quantile(q, 0.9) if q else 0.0, "unit": "s"},
                "ok_frac": {"value": 1.0 - failed / attempted, "unit": "frac"},
                "peak_rss_mb": {"value": rss, "unit": "MB"},
                "stream_batch_p50_ms": {"value": quantile(b, 0.5) if b else 0.0, "unit": "ms"},
                "stream_batch_p90_ms": {"value": quantile(b, 0.9) if b else 0.0, "unit": "ms"},
                "stream_rows_per_s": {
                    "value": runner.stream_rows / (sum(b) / 1e3) if sum(b) else 0.0,
                    "unit": "1/s",
                },
            }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "passes": len(walls),
            "pass_walls_s": walls, "item_samples": len(runner.item_walls),
            "stream_batch_ms": runner.stream_batches,
            "input_gen_s": input_gen_s, "input_cached": manifest.get("cached"),
            "session_s": session_s, "warmup_item_walls_s": runner.cold_walls,
            "item_walls_s": runner.by_item, "rss_kb": rss_parts, "errors": runner.errors, "wrong": wrong,
        }), file=sys.stderr)
    finally:
        if spark is not None:
            spark.stop()
            # stop the py4j gateway and the JVM it launched
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    # the JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
