"""Benchmark of the spatial-join engine: one workload, one seed per run.

    python3 perfbench/run.py --workload broadcast_join --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run starts a local Spark session with
Spark's default engine settings, builds the workload's seeded inputs,
warms up with a fixed number of passes of the call sequence, then repeats
passes until ``--seconds`` have been measured.  Wall times are reported
with the hypervisor's steal taken out (see perfbench/README.md).  Every call's output is
checked after its pass.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A record
with provenance, every pass and call, and (traced) the spans is written
under ``.bench_build/perfbench/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "spark_ml_spatialjointransformer_spark"
sys.path.insert(0, str(HERE))

import procfs  # noqa: E402

#: the pinned session: 2 task threads plus 2 Arrow workers fit 4 cores
MASTER = "local[2]"
DRIVER_HEAP = "1g"
SHUFFLE_PARTITIONS = "4"
#: untimed passes before the first timed one.  The first pays the cold
#: start (Python workers, code generation); the JIT keeps lowering the
#: JVM's CPU per pass for longer, which the record shows pass by pass.
#: Every run times the same pass positions, so runs compare like with like.
WARMUP_PASSES = 1
#: a pass during which the hypervisor withheld more than this share of the
#: CPU time the machine wanted does not count toward the end-to-end figures
STEAL_MAX = 0.45
#: timed passes a run needs below STEAL_MAX; it may measure up to twice
#: ``--seconds`` to find them
MIN_VALID_PASSES = 2
#: stop starting passes after this much process time, whatever --seconds says
HARD_STOP_S = 150.0


def process_start() -> float:
    """This process's start on the ``time.perf_counter`` clock (from
    /proc, so interpreter start-up and imports count toward set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        age = float(f.read().split()[0]) - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_session(tmp: Path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(MASTER)
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", str(tmp / "spark-local"))
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .config("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process it started."""
    from pyspark import SparkContext

    pids = set(procfs.tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if Path(f"/proc/{p}").exists()}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def provenance(spark, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    src = hashlib.sha256()
    for f in sorted((ROOT / PACKAGE).rglob("*.py")):
        src.update(f.read_bytes())
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "git_sha": sha,
        "source_sha256": src.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def unstolen(wall_s: float, steal: float) -> float:
    """Wall time with the hypervisor's steal taken out: the share ``steal``
    of the CPU time the machine wanted went to other guests, which
    stretches CPU-bound work by 1 / (1 - steal)."""
    return wall_s * (1.0 - steal)


class Runner:
    """Runs passes of a workload's call sequence and records each call."""

    def __init__(self, spark, workload, tracer, counters):
        self.spark = spark
        self.sc = spark.sparkContext
        self.w = workload
        self.tracer = tracer
        self.counters = counters
        self.reference: dict[str, tuple] = {}
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self, pass_id: int, traced: bool) -> dict:
        """One timed pass of the call sequence, then (untimed) what the
        program left running, the counters and the output checks."""
        prev, self.tracer.enabled = self.tracer.enabled, traced
        calls = []
        # JVM-wide counters are read just outside the timed window, so a
        # traced pass makes no more gateway calls than an untraced one
        jvm0 = self._jvm_counters() if traced else None
        cpu0 = procfs.cpu_split(os.getpid())
        steal0 = procfs.steal_ticks()
        t0 = time.perf_counter()
        with self.tracer.span("pass", pass_id=pass_id):
            for call in self.w.calls:
                calls.append(self._run_call(call, pass_id))
        wall = time.perf_counter() - t0
        cpu1 = procfs.cpu_split(os.getpid())
        steal = procfs.steal_share(steal0, procfs.steal_ticks())
        jvm = self._jvm_counters(jvm0) if traced else {}
        join_side_jobs()
        for call, rec in zip(self.w.calls, calls):
            if traced and "error" not in rec:
                with self.tracer.span("trace.counters"):
                    self._read_counters(call, rec, jvm0["sql_mark"])
            self._check(call, rec)
        join_side_jobs()
        if traced:
            with self.tracer.span("trace.counters"):
                jvm["cached_mb"] = self.counters.cached_mb(jvm.pop("new_rdds"))
        self.tracer.enabled = prev
        return {
            "pass": pass_id,
            "traced": traced,
            "wall_s": wall,
            "steal_share": steal,
            "unstolen_s": unstolen(wall, steal),
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "jvm": jvm,
            "calls": calls,
        }

    def _jvm_counters(self, since: dict | None = None) -> dict:
        """GC seconds, generated-code compiles, persisted RDDs and the SQL
        execution count so far, or (with ``since``) what changed since."""
        now = {
            "jvm_gc_s": self.counters.jvm_gc_s(),
            "codegen_compiles": self.counters.codegen_compiles(),
            "rdd_ids": self.counters.persistent_rdd_ids(),
            "sql_mark": self.counters.sql_mark(),
        }
        if since is None:
            return now
        new = now["rdd_ids"] - since["rdd_ids"]
        return {
            "jvm_gc_s": now["jvm_gc_s"] - since["jvm_gc_s"],
            "codegen_compiles": now["codegen_compiles"] - since["codegen_compiles"],
            "barrier_rdds": len(new),
            "new_rdds": new,
        }

    def _run_call(self, call, pass_id: int) -> dict:
        from workloads import materialise

        group = f"p{pass_id}.{call.label}"
        rec: dict = {"label": call.label, "group": group, "rows_in": call.rows_in,
                     "knn": call.knn, "dedup": call.dedup}
        self.attempted += 1
        with self.tracer.span(f"call.{call.label}"):
            try:
                self.sc.setJobGroup(group + ".build", call.label)
                t0 = time.perf_counter()
                span = "transformer.transform" if call.layer == "transformer" else f"{call.layer}.build"
                with self.tracer.span(span):
                    df = call.build()
                t1 = time.perf_counter()
                self.sc.setJobGroup(group + ".action", call.label)
                with self.tracer.span("spark.action"):
                    table = materialise(df)
                t2 = time.perf_counter()
                # the DataFrame stays referenced until its check, so Spark's
                # cleaner cannot drop the RDDs it persisted before they are
                # counted at the end of the pass
                rec.update(build_s=t1 - t0, action_s=t2 - t1, table=table, df=df)
            except Exception as e:  # noqa: BLE001 — a failed call is counted, the run goes on
                rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
                rec["traceback"] = traceback.format_exc()
        return rec

    def _read_counters(self, call, rec: dict, sql_mark: int) -> None:
        """Spark's counters for the call's job groups, then the call made
        again with its result written to Spark's noop sink instead of
        collected, so the record shows what collecting to the driver adds.
        The result is built afresh: acting on the timed DataFrame again
        would reuse its shuffle output and skip stages."""
        group = rec["group"]
        rec["build"] = self.counters.group(group + ".build", sql_mark)
        rec["action"] = self.counters.group(group + ".action", sql_mark)
        self.sc.setJobGroup(group + ".noop", call.label)
        df = call.build()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        rec["noop_action_s"] = time.perf_counter() - t0

    def _check(self, call, rec: dict) -> None:
        from workloads import fingerprint

        rec.pop("df", None)
        err = rec.get("error")
        if err is None:
            fp, rows = fingerprint(rec.pop("table"), call)
            rec["n"] = fp[0]
            ref = self.reference.setdefault(call.label, fp)
            if fp != ref:
                err = f"fingerprint {fp} != first pass {ref}"
            else:
                err = call.check(rows)
        if err is not None:
            rec["failed"] = err
            self.failures.append(f"{call.label}: {err}")


def join_side_jobs() -> None:
    """Wait for the job the capped LSH operator runs on a daemon thread,
    off the caller's path, to count the buckets it dropped: it belongs to
    the call that started it, so it ends before that call's counters are
    read and before the next pass."""
    for t in threading.enumerate():
        if t.name.startswith("sjt-hot-drop"):
            t.join(timeout=60)


def percentile_report(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (None when there are too few samples for any)."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if values else None, "tail": None}
    for q in (99.9, 99, 95, 90, 75):
        if n * (1 - q / 100) >= 10:
            out["tail"] = {"q": q, "value": statistics.quantiles(values, n=1000)[int(q * 10) - 1]}
            break
    return out


def end_to_end(passes: list[dict], setup_s: float, peak_mb: float) -> dict:
    walls = [p["unstolen_s"] for p in passes]
    rows = sum(c["rows_in"] for p in passes for c in p["calls"])
    cores = [sum(p["cpu"].values()) for p in passes]
    return {
        "pass_p50_s": {"value": statistics.median(walls), "unit": "s"},
        "rows_per_s": {"value": rows / sum(walls), "unit": "1/s"},
        "core_s_per_pass": {"value": statistics.median(cores), "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(passes: list[dict], setup: dict, kernels: dict, tracer) -> dict:
    def med(fn) -> float:
        return float(statistics.median([fn(p) for p in passes]))

    def calls(p, pred=lambda c: True):
        return [c for c in p["calls"] if pred(c) and "error" not in c]

    def spark_sum(p, attr, which=("build", "action"), pred=lambda c: True):
        return sum(getattr(c[w], attr) for c in calls(p, pred) for w in which)

    def per_call(p, value, pred):
        cs = calls(p, pred)
        return sum(value(c) for c in cs) / len(cs) if cs else 0.0

    def knn(c):
        return c["knn"]

    def dedup(c):
        return c["dedup"]

    def cand(p):
        return sum((c["action"].join_rows or [0])[0] for c in calls(p, dedup))

    def pairs(p):
        return sum(c["n"] for c in calls(p, dedup))

    m: dict[str, tuple[float, str]] = {
        "transformer.transform_s": (med(lambda p: sum(c["build_s"] for c in calls(p))), "s"),
        "transformer.transform_jobs": (med(lambda p: spark_sum(p, "jobs", ("build",))), "count"),
        "spark.action_s": (med(lambda p: sum(c["action_s"] for c in calls(p))), "s"),
        "spark.noop_action_s": (med(lambda p: sum(c["noop_action_s"] for c in calls(p))), "s"),
    }
    for attr, unit in (
        ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
        ("executor_cpu_s", "s"),
    ):
        m[f"spark.{attr}"] = (med(lambda p, a=attr: spark_sum(p, a)), unit)
    m["spark.jvm_gc_s"] = (med(lambda p: p["jvm"]["jvm_gc_s"]), "s")
    m["spark.codegen_compiles"] = (med(lambda p: p["jvm"]["codegen_compiles"]), "count")
    m["python_workers.cpu_s"] = (med(lambda p: p["cpu"]["workers"]), "s")
    m["jvm.cpu_s"] = (med(lambda p: p["cpu"]["jvm"]), "s")
    m["python_driver.cpu_s"] = (med(lambda p: p["cpu"]["driver"]), "s")
    m["host.steal_share"] = (med(lambda p: p["steal_share"]), "ratio")
    for name, value in kernels.items():
        m[name] = (value, "ns" if name.endswith("_ns_per_pair") else "us")
    m["operators.knn.jobs_per_call"] = (
        med(lambda p: per_call(p, lambda c: c["build"].jobs + c["action"].jobs, knn)), "count")
    m["operators.knn.shuffle_write_mb_per_call"] = (
        med(lambda p: per_call(
            p, lambda c: c["build"].shuffle_write_mb + c["action"].shuffle_write_mb, knn)), "MB")
    m["operators.dedup.candidate_rows"] = (med(cand), "count")
    m["operators.dedup.pairs_out"] = (med(pairs), "count")
    m["operators.dedup.pairs_per_candidate"] = (
        med(lambda p: pairs(p) / cand(p) if cand(p) else 0.0), "ratio")
    m["operators._compat.barrier_rdds"] = (med(lambda p: p["jvm"]["barrier_rdds"]), "count")
    m["operators._compat.cached_mb"] = (med(lambda p: p["jvm"]["cached_mb"]), "MB")
    for name in ("session_s", "inputs_s", "warmup_s"):
        m[f"setup.{name}"] = (setup[name], "s")
    m["trace.pass_p50_s"] = (statistics.median([p["unstolen_s"] for p in passes]), "s")
    layers = ("transformer.", "operators.", "spark.")
    m["trace.span_coverage"] = (min(tracer.coverage("pass", layers)), "ratio")
    m["trace.uncovered_s"] = (
        med(lambda p: p["wall_s"] * (1 - tracer.coverage("pass", layers, p["pass"])[0])), "s")
    self_t = tracer.self_times()
    n = len(passes)
    build = self_t.get("transformer.transform", 0.0) + self_t.get("operators.dedup.build", 0.0)
    m["trace.self_s.build"] = (build / n, "s")
    m["trace.self_s.action"] = (self_t.get("spark.action", 0.0) / n, "s")
    m["trace.self_s.calls"] = (
        sum(v for k, v in self_t.items() if k.startswith("call.")) / n, "s")
    m["trace.self_s.counters"] = (self_t.get("trace.counters", 0.0) / n, "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    t_proc0, steal0 = process_start(), procfs.steal_ticks()
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".bench_build" / "perfbench"
    tmp = work / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep every temporary file inside the checkout: PySpark's gateway
    # files, the JVM's and the workers' temp files, Spark's block manager
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    load_start = os.getloadavg()[0]
    spark = None
    try:
        from sparkstats import SparkCounters
        from tracing import Tracer
        from workloads import WORKLOADS, kernel_probes

        tracer = Tracer(bool(args.trace))
        with tracer.span("setup.session"):
            spark = make_session(tmp)
        session_s = time.perf_counter() - t_proc0
        prov = provenance(spark, args.seed)
        t0 = time.perf_counter()
        with tracer.span("setup.inputs"):
            w = WORKLOADS[args.workload](spark, args.seed)
        inputs_s = time.perf_counter() - t0
        runner = Runner(spark, w, tracer, SparkCounters(spark))
        t0 = time.perf_counter()
        with tracer.span("setup.warmup"):
            warm = [runner.run_pass(-1 - i, traced=False) for i in range(WARMUP_PASSES)]
        t_setup = time.perf_counter()
        setup_steal = procfs.steal_share(steal0, procfs.steal_ticks())
        setup = {
            "session_s": session_s,
            "inputs_s": inputs_s,
            "warmup_s": t_setup - t0,
            "steal_share": setup_steal,
            "wall_s": t_setup - t_proc0,
        }
        setup_s = unstolen(t_setup - t_proc0, setup_steal)
        w.prepare()
        passes: list[dict] = []
        t_measure = time.perf_counter()
        while True:
            valid = [p for p in passes if p["steal_share"] <= STEAL_MAX]
            measured = time.perf_counter() - t_measure
            if len(valid) >= MIN_VALID_PASSES and measured >= args.seconds:
                break
            if len(passes) >= MIN_VALID_PASSES and measured >= 2 * args.seconds:
                break
            if passes and time.perf_counter() - t_proc0 > HARD_STOP_S:
                break
            gc.collect()
            passes.append(runner.run_pass(len(passes), bool(args.trace)))
        measured_s = time.perf_counter() - t_measure
        # a run that never saw the machine quiet enough reports every pass
        used = [p for p in passes if p["steal_share"] <= STEAL_MAX] or passes
        kernels = {}
        if args.trace:
            with tracer.span("functions.kernel_probes"):
                kernels = kernel_probes(w)
        peak = procfs.peak_rss(os.getpid())
        peak_mb = sum(mb for _, mb in peak.values())
        if args.trace:
            metrics = per_layer(used, setup, kernels, tracer)
        else:
            metrics = end_to_end(used, setup_s, peak_mb)
    except Exception as e:  # noqa: BLE001 — report, stop Spark, exit non-zero
        traceback.print_exc()
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop
    prov["load1_start"] = load_start
    prov["load1_end"] = os.getloadavg()[0]
    detail = {
        "workload": args.workload,
        "provenance": prov,
        "setup": setup,
        "measured_s": measured_s,
        "stop_s": stop_s,
        # share of the CPU time the machine wanted that the hypervisor gave
        # to other guests during each timed pass
        "steal_share_by_pass": [round(p["steal_share"], 4) for p in passes],
        "passes_over_steal_max": sum(p["steal_share"] > STEAL_MAX for p in passes),
        "pass_wall_s": percentile_report([p["wall_s"] for p in used]),
        "pass_unstolen_s": percentile_report([p["unstolen_s"] for p in used]),
        "peak_rss_mb_by_process": sorted(peak.values()),
        "failures": runner.failures,
    }
    record = dict(detail, metrics=metrics, passes=warm + passes, spans=tracer.dump(),
                  self_s=tracer.self_times())
    out = work / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, default=lambda o: o.__dict__, indent=1))
    print(json.dumps({"detail": detail, "record": str(out.relative_to(ROOT))}))
    failed = len(runner.failures)
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
