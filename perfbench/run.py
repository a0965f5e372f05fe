"""Steady-state benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  One process, one client, a
closed loop on ``local[<cpus>]``: each op of a pass starts when the
previous one has returned its consumed result.

A run generates the seed's inputs (cached under ``.perfbench/`` in the
checkout, outside the timed region), computes the expected outputs
(DuckDB oracle SQL or pyarrow), starts a cold Spark session (timed as
``setup_s``), runs untimed warm-up passes, then a fixed number of
timed passes that fills about ``--seconds`` (see NOMINAL_PASS_S).
Every op's output is checked after its pass, outside the timed region.

``--trace 1`` starts the session with the Spark event log on and follows
every timed pass with a traced one, which records spans around every
call into a layer.  It reports the per-layer metrics plus the tracing
overhead: the median traced pass minus the median untraced pass of the
same session, at the same point of warm-up.  Spans and per-op Spark
counters are also written to ``.perfbench/trace-<workload>.json``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``).  The line before it is a JSON ``detail`` record with
sample counts, percentiles, failures and the load average.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

from tracing import Tracer, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("llm_curation", "parquet_merge", "tpch_sql")
# Seconds one warm pass of each workload takes at the commit that
# defined the benchmark (4 cores).  After the untimed warm-up passes
# (JIT, codegen, Python workers), a run makes round(seconds / nominal)
# timed passes, at least MIN_TIMED_PASSES, so every commit does the same
# work per run and a faster commit is not measured at an earlier point
# of warm-up.
NOMINAL_PASS_S = {"llm_curation": 10.0, "parquet_merge": 5.0, "tpch_sql": 15.0}
# The second pass of an llm_curation or parquet_merge run is still about
# a tenth slower than its third (20 seeds each, 4 cores), so a run warms
# up for two passes.
WARMUP_PASSES = 2
# Three passes of seven llm_curation ops give 21 op samples, enough for
# a tail quantile above the median (see tail_q).
MIN_TIMED_PASSES = 3
# Driver heap: 1 GiB holds every workload's inputs many times over, and
# a fixed heap keeps GC work and peak RSS comparable between runs (the
# engine's own default, 48g, exceeds the memory of small machines).
DRIVER_HEAP_MB = 1024
KEEP_INPUT_SETS = 6  # cached seeds kept per checkout


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                   help="input size; smoke is the smallest that runs every op")
    args = p.parse_args(argv)
    args.passes = max(MIN_TIMED_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    return args


def pin_env(run_dir: str) -> dict:
    """Fix the environment the engine reads, before it is imported:
    cores, local dirs, driver heap, and every temp dir inside the
    checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_HEAP_MB}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM the launcher starts: temp files in the checkout, no
        # hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return {"cpus": cpus, "driver_heap_mb": DRIVER_HEAP_MB}


def session_conf(run_dir: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_python_peak_rss() -> None:
    """Restart this process's peak-RSS counter, so input generation and
    oracle evaluation do not count toward the workload's peak."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def python_peak_rss_mb() -> float:
    try:
        return _vm_hwm_mb("self")
    except OSError:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for task in tasks:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    for all of them; the next ``get_spark`` then starts a cold JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    workers = _children(jvm_pid)
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_gone([jvm_pid, *workers], timeout=30)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (statistics.quantiles 'inclusive')."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_q(n: int) -> float | None:
    """Highest quantile with at least ten samples beyond it, or None
    when no quantile above the median has that many (n <= 20)."""
    return (n - 10) / n if n > 20 else None


def summarize(samples: list[float]) -> dict:
    q = tail_q(len(samples))
    return {
        "n": len(samples),
        "p50": statistics.median(samples),
        "tail_q": q,
        "tail": quantile(samples, q) if q is not None else None,
    }


class Phase:
    """One Spark session: cold start, warm-up passes, timed passes.
    With ``trace``, each timed pass is followed by a traced pass."""

    def __init__(self, args, wl, ctx_factory, import_s: float):
        self.args, self.wl = args, wl
        self.trace = bool(args.trace)
        self.tracer = Tracer(False)
        self.ctx_factory = ctx_factory
        self.import_s = import_s
        # timed passes with tracing off, then the traced ones
        self.pass_s: list[float] = []
        self.op_s: dict[str, list[float]] = {op: [] for op in wl.ops}
        self.trace_pass_s: list[float] = []
        self.traced_tags: set[str] = set()
        self.attempted = 0
        self.failures: list[str] = []
        self.results: dict = {}
        self.check_s = 0.0
        self.all_pass_s: list[float] = []  # warm-up and traced passes too

    def start(self, conf: dict) -> None:
        from tmp_parquet_merge_spark.session import get_spark

        self.tracer.enabled = self.trace
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", op_id="s.session"):
            self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        self.tracer.enabled = False
        self.spark.range(1).count()  # first job: executor and codegen are up
        t2 = time.perf_counter()
        self.get_spark_s, self.first_job_s = t1 - t0, t2 - t1
        self.setup_s = self.import_s + (t2 - t0)
        self.ctx = self.ctx_factory(self.spark, self.tracer)
        if self.trace:
            self.tracer.sc = self.spark.sparkContext

    def run_pass(self, tag: str, rng: random.Random, traced: bool = False) -> None:
        ops = list(self.wl.ops)
        if not self.wl.ordered:
            rng.shuffle(ops)
        results, times = {}, {}
        self.tracer.enabled = traced
        t0 = time.perf_counter()
        with self.tracer.span("pass", op_id=f"{tag}.pass"):
            for op in ops:
                a = time.perf_counter()
                try:
                    with self.tracer.span(f"op.{op}", op_id=f"{tag}.{op}"):
                        results[op] = self.wl.run(self.ctx, op)
                except Exception:  # an op failure is counted, the run goes on
                    self.failures.append(f"{tag}.{op}: {traceback.format_exc(limit=3)}")
                times[op] = time.perf_counter() - a
        wall = time.perf_counter() - t0
        self.tracer.enabled = False
        self.attempted += len(ops)
        t_check = time.perf_counter()
        for op, res in results.items():
            try:
                err = self.wl.check(self.ctx, op, res)
            except Exception:
                err = traceback.format_exc(limit=3)
            if err:
                self.failures.append(f"{tag}.{op}: {err}")
        self.check_s += time.perf_counter() - t_check
        self.all_pass_s.append(wall)
        if tag.startswith("w"):
            return
        self.results = results
        if traced:
            self.traced_tags.add(tag)
            self.trace_pass_s.append(wall)
        else:
            self.pass_s.append(wall)
            for op in results:
                self.op_s[op].append(times[op])

    def measure(self, rng: random.Random) -> None:
        for i in range(WARMUP_PASSES):
            self.run_pass(f"w{i}", rng)
        for i in range(self.args.passes):
            self.run_pass(f"t{i}", rng)
            if self.trace:
                self.run_pass(f"r{i}", rng, traced=True)
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.rss_mb = {"jvm": _vm_hwm_mb(jvm_pid), "python": python_peak_rss_mb()}
        self.peak_rss_mb = sum(self.rss_mb.values())

    def end_to_end(self, input_mb: float) -> tuple[dict, dict]:
        ops = [t for ts in self.op_s.values() for t in ts]
        p, o = summarize(self.pass_s), summarize(ops)
        metrics = {
            "pass_s": p["p50"],
            "throughput_mb_s": input_mb / p["p50"],
            "op_p50_s": o["p50"],
            # too few samples for any tail quantile: the median stands in
            "op_tail_s": o["tail"] if o["tail_q"] else o["p50"],
            "setup_s": self.setup_s,
            "peak_rss_mb": self.peak_rss_mb,
        }
        detail = {
            "pass_s": p, "pass_s_samples": self.pass_s, "all_pass_s": self.all_pass_s,
            "op_s": o, "op_s_samples": self.op_s,
            "peak_rss_mb": self.rss_mb, "check_s": self.check_s,
            "setup": {
                "import_s": self.import_s,
                "get_spark_s": self.get_spark_s,
                "first_job_s": self.first_job_s,
            },
        }
        return metrics, detail


def live_layer_metrics(phase: Phase, wl) -> dict:
    """Per-layer counts that need the traced session still running."""
    ctx = phase.ctx
    out = {}
    if hasattr(wl, "files_written"):
        out["io.files_written"] = float(wl.files_written(ctx))
        out["io.stored_bytes"] = float(wl.parquet_bytes_written(ctx))
    if "q_dedup_minhash" in wl.ops:
        cand = wl.candidate_pairs(ctx)
        ver = wl.verified_pairs(phase.results)
        out.update({
            "dedup.candidate_pairs": float(cand),
            "dedup.verified_pairs": float(ver),
            "dedup.pair_precision": ver / cand if cand else 0.0,
        })
    return out


def per_layer(phase: Phase, wl, input_bytes: int, counters: dict, live: dict) -> dict:
    """Per-layer metrics, per traced pass, from the spans and the Spark
    counters of the event log; op seconds from the untraced passes."""
    timed = phase.traced_tags
    n = len(timed)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = {k: v / n for k, v in counters.items()}
    spans = phase.tracer.span_seconds(timed)
    selfs = phase.tracer.self_times(timed)
    pass_s = statistics.median(phase.trace_pass_s)
    base_s = statistics.median(phase.pass_s)
    out = dict(m)
    out.update({
        "session.get_spark_s": phase.get_spark_s,
        "plan.build_s": spans.get("registry.build", 0.0) / n,
        "exec.core_busy_frac": counters.get("exec.task_s", 0.0) / (sum(phase.trace_pass_s) * cores),
        "scan.bytes_read_per_input_byte": m.get("scan.bytes_read", 0.0) / input_bytes,
        "trace.pass_s": pass_s,
        "trace.overhead_s": pass_s - base_s,
        "trace.overhead_frac": (pass_s - base_s) / base_s,
        "failed_op_frac": len(phase.failures) / phase.attempted,
        "stored_bytes_per_input_byte": live.pop("io.stored_bytes", 0.0) / input_bytes,
    })
    for layer, secs in selfs.items():
        out[f"self.{layer}_s"] = secs / n
    for op, ts in phase.op_s.items():
        out[f"op.{op}_s"] = statistics.median(ts)
    # parquet_io per public function: seconds per pass of the ops calling it
    for op, fn in getattr(wl, "io_fn", {}).items():
        out[f"io.{fn}_s"] = out.get(f"io.{fn}_s", 0.0) + out[f"op.{op}_s"]
    out.update(live)
    return out


def prune_inputs(inputs_dir: str, keep: str) -> None:
    sets = sorted(
        (os.path.join(inputs_dir, d) for d in os.listdir(inputs_dir)),
        key=os.path.getmtime,
    )
    for d in sets[:-KEEP_INPUT_SETS]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tmp_parquet_merge_spark", "__init__.py")):
        print("engine sources (tmp_parquet_merge_spark/) not found next to "
              "perfbench/; run from a source checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = pin_env(run_dir)
    sys.path[:0] = [ROOT, HERE]
    load_before = os.getloadavg()[0]
    try:
        return _run(args, spec, run_dir, env, load_before)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spec, run_dir, env, load_before) -> int:
    import duckdb  # noqa: F401  the oracle's; imported here, outside setup_s

    import gen

    t_run = time.perf_counter()
    inputs_dir = os.path.join(WORK, "inputs")
    data_dir = os.path.join(inputs_dir, f"{args.workload}-{args.scale}-s{args.seed}")
    manifest = gen.generate(args.workload, args.seed, args.scale, data_dir)
    os.utime(data_dir)
    prune_inputs(inputs_dir, data_dir)

    t0 = time.perf_counter()
    import workloads  # imports pyspark and the engine

    import_s = time.perf_counter() - t0
    wl = workloads.make(args.workload, data_dir, gen.WORKLOAD_TABLES[args.workload])
    wl.prepare()
    prep_s = time.perf_counter() - t_run
    out_dir = os.path.join(run_dir, "out")

    def ctx_factory(spark, tracer):
        return workloads.Context(spark, data_dir, out_dir, tracer)

    reset_python_peak_rss()
    rng = random.Random(args.seed)
    event_dir = os.path.join(run_dir, "eventlog")
    phase = Phase(args, wl, ctx_factory, import_s)
    phase.start(session_conf(run_dir, event_dir if args.trace else None))
    try:
        phase.measure(rng)
        live = live_layer_metrics(phase, wl) if args.trace else {}
    finally:
        t_stop = time.perf_counter()
        stop_session(phase.spark)
    metrics, detail = phase.end_to_end(manifest["input_mb"])
    detail["stop_s"] = time.perf_counter() - t_stop
    failures, attempted = phase.failures, phase.attempted

    if args.trace:
        counters, by_op = read_event_log(event_dir, phase.traced_tags)
        metrics = per_layer(phase, wl, sum(manifest["bytes"].values()), counters, live)
        with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"seed": args.seed, "spans": phase.tracer.spans,
                       "per_op_counters": by_op, "per_layer": metrics}, f)

    detail.update({
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "input_mb": manifest["input_mb"], "rows": manifest["rows"],
        "failed_op_frac": len(failures) / attempted,
        "loadavg_1m_before": load_before, "loadavg_1m_after": os.getloadavg()[0],
        "env": env, "failures": failures[:5],
        "prep_s": prep_s, "run_s": time.perf_counter() - t_run,
    })
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
