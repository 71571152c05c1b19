"""Closed-loop benchmark of sensordatapipelines_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client in one process on
``local[nproc]`` runs the workload's steps back to back:

1. inputs are made from ``--seed`` (perfbench/inputs.py);
2. set-up runs five times, each in a fresh Spark session: stage the
   inputs, start the session, register the tables as views, ship the
   package, stage the side inputs; ``setup_s`` is the median;
3. one untimed pass collects every step's output and checks it
   (perfbench/oracle.py), and sinks each batch result once, which warms
   the session;
4. timed passes repeat for ``--seconds``; ``wall_s`` is their median.

With ``--trace 1`` the timed passes record spans and job groups
(perfbench/layers.py); an untraced pass before them ends the warm-up and
one after them measures the tracing overhead; the per-layer metrics are
printed instead of the end-to-end ones. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
run record (versions, cores, seed, commit, input size).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 5
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: +{time.perf_counter() - T0:.1f}s {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def reset_hwm(pid: int | str = "self") -> None:
    """Restart VmHWM from the current RSS, so a peak covers only what runs next."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def jvm_pid() -> int:
    """The Spark JVM: the gateway process pyspark launched (spark-submit
    execs java), or its java child."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    todo = [pid]
    while todo:
        p = todo.pop()
        with open(f"/proc/{p}/comm") as f:
            if f.read().strip() == "java":
                return p
        for task in os.listdir(f"/proc/{p}/task"):
            with open(f"/proc/{p}/task/{task}/children") as f:
                todo.extend(int(c) for c in f.read().split())
    raise RuntimeError("no java process under the Spark gateway")


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def commit_id() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    return "unknown"


class Run:
    def __init__(self, args, work: str):
        from perfbench.inputs import Inputs
        from perfbench.layers import Tracer
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.inputs = Inputs(args.seed, self.wl.sizes)
        self.tr = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace))
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.old_contexts: list = []  # keep ids of stopped contexts unique
        self.setups: list[dict[str, float]] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------------
    def conf(self) -> dict[str, str]:
        tmp = tempfile.gettempdir()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}"
            ),
        }
        if self.tr.enabled:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self, i: int) -> None:
        from pyspark.sql import functions as F

        import __spark_entry__ as E
        from sensordatapipelines_spark import get_spark
        from sensordatapipelines_spark.runtime import ensure_shipped
        from sensordatapipelines_spark.tables import load_table

        if self.spark is not None:
            self.old_contexts.append(self.spark.sparkContext)
            self.spark.stop()
        base = os.path.join(self.work, f"setup{i}")
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("stage_tables", "staging"):
            data = self.inputs.stage_tables(base)
        t1 = time.perf_counter()
        with tr.span("get_spark", "session"):
            spark = get_spark(
                app_name=f"perfbench-{self.wl.name}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.wl.shuffle_partitions,
                extra_conf=self.conf(),
            )
            spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        with tr.span("register", "tables"):
            for name in self.inputs.tables:
                tr.call(load_table, spark, data, name).createOrReplaceTempView(name)
        t3 = time.perf_counter()
        with tr.span("ensure_shipped", "runtime"):
            ensure_shipped(spark)
        t4 = time.perf_counter()
        staged = {"data": data}
        side = self.wl.side_inputs
        with tr.span("stage_side_inputs", "staging"):
            if "raster" in side:
                staged["raster"] = self.inputs.stage_raster(base)
            if "shapefile" in side or "landing" in side:
                # the sensor layer as SENSORS_SQL computes it in Spark, so the
                # staged doubles are bit-equal to what the gate oracles compute
                sensors = spark.sql(E.SENSORS_SQL).orderBy(F.asc("sensor_id")).toPandas()
                self.val_range = (float(sensors["val"].min()), float(sensors["val"].max()))
            if "shapefile" in side:
                staged["shapefile"] = self.inputs.stage_sensors(base, sensors)
            if "landing" in side:
                staged["landing"] = self.inputs.stage_landing(base, sensors)
        t5 = time.perf_counter()
        self.setups.append(
            {
                "setup_s": t5 - t0,
                "session.start_s": t2 - t1,
                "tables.register_s": t3 - t2,
                "runtime.ship_s": t4 - t3,
            }
        )
        self.spark, self.staged = spark, staged
        tr.spark = spark

    # -- passes -----------------------------------------------------------------
    def new_ctx(self, k: int):
        from perfbench.inputs import fresh_copy
        from perfbench.workloads import Ctx

        ctx = Ctx(self.spark, self.tr, self.staged)
        if self.wl.writes:
            ctx.pass_dir = os.path.join(self.work, f"pass{k}")
            fresh_copy(self.staged["landing"], os.path.join(ctx.pass_dir, "landing"))
            self.spark.conf.set(
                "spark.sql.streaming.checkpointLocation", os.path.join(ctx.pass_dir, "chk")
            )
        return ctx

    def end_pass(self, ctx, rec: dict) -> dict:
        from perfbench.inputs import dir_size

        if self.wl.writes:
            rec["files_written"], rec["bytes_written"] = dir_size(os.path.join(ctx.pass_dir, "out"))
            shutil.rmtree(ctx.pass_dir)
        self.attempted += len(self.wl.steps)
        self.failed += len(rec["failed"])
        return rec

    def check_pass(self) -> dict:
        """Untimed pass 0: every step's output is collected for the check.
        Each chain of steps (a step and the steps that read its output) runs
        in a thread of its own, so their cold starts (JIT, code generation,
        Python workers) overlap. Nothing here is timed or traced."""
        from perfbench.workloads import Batch

        ctx = self.new_ctx(0)
        outputs: dict = {}
        batch: set[str] = set()
        failed: set[str] = set()

        def run_chain(chain) -> None:
            for i, step in enumerate(chain):
                try:
                    res = step.build(ctx)
                    if isinstance(res, Batch):
                        # collected in place of the sink, then built and sunk
                        # once more, so the timed passes find the sink path warm
                        outputs[step.name] = res.collect()
                        res.run(ctx)
                        batch.add(step.name)
                    else:
                        res.run(ctx)
                        outputs[step.name] = res.collect()
                except Exception:
                    log(f"step {step.name} failed:\n{traceback.format_exc()}")
                    failed.update(s.name for s in chain[i:])  # the rest read its output
                    return
                log(f"checked step {step.name}")

        chains = self.wl.chains()
        traced, self.tr.enabled = self.tr.enabled, False
        try:
            with ThreadPoolExecutor(len(chains)) as pool:
                list(pool.map(run_chain, chains))
        finally:
            self.tr.enabled = traced
        rows: dict[str, int] = {}
        for step in self.wl.steps:
            if step.name in batch and step.name in outputs:
                rows[step.layer] = rows.get(step.layer, 0) + len(outputs[step.name])
        return self.end_pass(ctx, {"outputs": outputs, "rows": rows, "failed": failed})

    def timed_pass(self, k: int) -> dict:
        """Pass k >= 1: the steps back to back, each result into its sink."""
        ctx = self.new_ctx(k)
        self.tr.pass_no = k
        failed: set[str] = set()
        steps: dict[str, float] = {}
        start = time.time()
        t0 = time.perf_counter()
        for step in self.wl.steps:
            t_step = time.perf_counter()
            try:
                with self.tr.phase(self.wl.name, step.name, "build", step.layer):
                    res = step.build(ctx)
                with self.tr.phase(self.wl.name, step.name, "run", step.layer):
                    res.run(ctx)
            except Exception:
                failed.add(step.name)
                log(f"step {step.name} failed:\n{traceback.format_exc()}")
            steps[step.name] = time.perf_counter() - t_step
        wall = time.perf_counter() - t0
        end = time.time()
        self.tr.pass_no = None
        log(f"pass {k}: {wall:.2f}s; " + ", ".join(f"{n} {t:.2f}" for n, t in steps.items()))
        rec = {"wall": wall, "start": start, "end": end, "failed": failed, "progress": ctx.progress}
        return self.end_pass(ctx, rec)

    def untraced_pass(self, k: int) -> dict:
        self.tr.enabled = False
        try:
            return self.timed_pass(k)
        finally:
            self.tr.enabled = True

    def start_oracle(self):
        from perfbench.oracle import Oracle

        gates = [k for st in self.wl.steps for k in st.checks if not k.startswith("invariant:")]
        return Oracle(self.staged["data"], self.inputs.cells(), gates)

    def check(self, oracle, rec: dict) -> None:
        from perfbench.oracle import check

        facts = {"val_range": getattr(self, "val_range", None)}
        for step in self.wl.steps:
            if step.name in rec["failed"]:
                continue
            got = rec["outputs"][step.name]
            problems = []
            for key, cols in step.checks.items():
                view = got if cols is None else got[list(cols)].rename(columns=cols)
                p = check(oracle, key, view, facts)
                if p:
                    problems.append(f"{key}: {p}")
            if problems:
                self.failed += 1
                log(f"step {step.name} wrong: {problems}")

    # -- the run ----------------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        for i in range(SETUPS):
            self.setup(i)
            log(f"set-up {i}: {self.setups[-1]['setup_s']:.2f}s")
        oracle = self.start_oracle()
        checked = self.check_pass()
        log("check pass done")
        self.check(oracle, checked)
        log(f"checked: {self.failed} failed; oracle took {oracle.seconds:.1f}s")
        # peak memory of the timed passes only, not of the checking above
        del checked["outputs"], oracle
        gc.collect()
        reset_hwm()
        reset_hwm(jvm_pid())
        traced = self.tr.enabled
        if traced:
            # the first pass after the check pass still warms up; traced, it
            # would be compared with a warmer untraced pass below
            self.untraced_pass(-1)
        # passes back to back; another starts only if it fits in --seconds
        passes = []
        t_end = time.perf_counter() + self.args.seconds
        while not passes or time.perf_counter() + passes[-1]["wall"] <= t_end:
            passes.append(self.timed_pass(len(passes) + 1))
        untraced = self.untraced_pass(len(passes) + 1) if traced else None
        record = self.record(passes)
        if traced:
            metrics = self.layer_metrics(checked, passes, untraced, record)
        else:
            metrics = self.end_to_end(passes, record)
        return record, metrics

    def input_size(self) -> tuple[int, int]:
        from perfbench.inputs import dir_size

        rows = sum(t.num_rows for t in self.inputs.tables.values())
        if "raster" in self.staged:
            rows += self.inputs.raster.size
        size = sum(dir_size(p)[1] for p in self.staged.values())
        return rows, size

    def record(self, passes: list[dict]) -> dict:
        import pyspark

        rows, size = self.input_size()
        return {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "trace": int(self.tr.enabled),
            "nproc": os.cpu_count(),
            "cores": self.cores,
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "commit": commit_id(),
            "input_rows": rows,
            "input_bytes": size,
            "setups": self.setups,
            "pass_walls": [p["wall"] for p in passes],
        }

    def end_to_end(self, passes: list[dict], record: dict) -> dict:
        wall = statistics.median(p["wall"] for p in passes)
        return {
            "setup_s": (statistics.median(s["setup_s"] for s in self.setups), "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (record["input_rows"] / wall, "rows/s"),
            "driver_peak_rss_mb": (vm_hwm_mb(), "MB"),
        }

    def layer_metrics(self, checked, passes, untraced, record) -> dict:
        from perfbench.layers import (
            OPERATOR_MODULES,
            find_event_log,
            median_of,
            read_event_log,
            span_pass_metrics,
            spark_pass_metrics,
        )

        sc = self.spark.sparkContext
        persistent = sc._jsc.sc().getPersistentRDDs().size()
        jvm_rss = vm_hwm_mb(jvm_pid())
        cores = sc.defaultParallelism
        app_id = sc.applicationId
        self.spark.stop()
        events = read_event_log(find_event_log(os.path.join(self.work, "eventlog"), app_id))
        per_pass = []
        for k, p in enumerate(passes, 1):
            m = span_pass_metrics(self.tr.spans, k, events)
            m.update(spark_pass_metrics(events, p["start"], p["end"], cores))
            prog = p["progress"]
            trig = [x["durationMs"].get("triggerExecution", 0) for x in prog]
            m["streaming.batches"] = len(prog)
            m["streaming.batch_p50_ms"] = statistics.median(trig) if trig else 0.0
            m["streaming.planning_ms"] = sum(x["durationMs"].get("queryPlanning", 0) for x in prog)
            m["streaming.add_batch_ms"] = sum(x["durationMs"].get("addBatch", 0) for x in prog)
            last: dict[str, dict] = {}
            for x in prog:
                last[x["id"]] = x
            m["streaming.state_rows"] = sum(
                op.get("numRowsTotal", 0) for x in last.values() for op in x.get("stateOperators", [])
            )
            m["sinks.files_written"] = p.get("files_written", 0)
            m["sinks.bytes_written"] = p.get("bytes_written", 0)
            per_pass.append(m)
        metrics = median_of(per_pass)
        rows_in, bytes_in = record["input_rows"], record["input_bytes"]
        for mod in OPERATOR_MODULES:
            metrics[f"operators.{mod}.rows_out"] = checked["rows"].get(f"operators.{mod}", 0)
        for key in ("session.start_s", "tables.register_s", "runtime.ship_s"):
            metrics[key] = statistics.median(s[key] for s in self.setups)
        metrics["sources.rows_in"] = rows_in
        metrics["sources.bytes_in"] = bytes_in
        metrics["bytes_written_per_input_byte"] = metrics["sinks.bytes_written"] / bytes_in
        metrics["spark.persistent_rdds_end"] = persistent
        metrics["jvm.peak_rss_mb"] = jvm_rss
        metrics["trace.overhead_s"] = (
            statistics.median(p["wall"] for p in passes) - untraced["wall"]
        )
        return {k: (v, unit_of(k)) for k, v in metrics.items()}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_in") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_per_input_byte"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sensordatapipelines_spark", "__init__.py")):
        print(f"perfbench: no sensordatapipelines_spark package under {ROOT}", file=sys.stderr)
        return 2
    # the package, the driver module and tools/check_oracle come from this checkout
    sys.path[0:1] = [ROOT, os.path.join(ROOT, "tools")]
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    run = None
    try:
        run = Run(args, work)
        log(f"inputs made: {sum(t.num_rows for t in run.inputs.tables.values())} table rows")
        record, metrics = run.execute()
        if run.tr.enabled:
            run.tr.dump(os.path.join(ROOT, ".perfbench_run", "traces", f"{run.tr.run_id}.json"), record)
    finally:
        if run is not None and run.spark is not None:
            run.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
