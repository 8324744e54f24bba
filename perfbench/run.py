"""Benchmark for nifi-datasynthesizer-spark.

    python3 perfbench/run.py --workload {synth,curate,stream,all} \
        --seed N --seconds S --trace {0,1} [--smoke]

Runs one workload in this fresh process on ``local[N]``, N = min(cores,
4): a closed loop with one client, every pass running the workload's
operations in a fixed order.  The first pass is the cold pass; warm
passes follow until ``--seconds`` have passed (at least two).  Every
operation's output is checked against the repository's DuckDB oracle
after the passes.  Human-readable metric lines come first; the last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
``--workload all`` runs each workload in its own process.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
E2E = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
       ("rows_per_s", "rows/s"), ("batch_p50_ms", "ms"),
       ("batch_tail_ms", "ms"), ("peak_rss_mb", "MB")]


def _per_layer_names() -> list[tuple[str, str]]:
    from workloads import CURATE
    names = [
        ("session.start_s", "s"),
        ("schema.compile_s", "s"), ("schema.build_s", "s"),
        ("schema.plan_s", "s"), ("schema.exec_s", "s"), ("schema.rows", "count"),
        ("synthesizers.build_s", "s"), ("synthesizers.exec_s", "s"),
        ("synthesizers.rows", "count"),
        ("io.write_s", "s"), ("io.bytes_written", "bytes"),
        ("io.files_written", "count"), ("io.bytes_read", "bytes"),
        ("operators.build_s", "s"), ("operators.exec_s", "s"),
        ("operators.build_jobs", "count"), ("operators.exec_jobs", "count"),
        ("operators.sql_execs", "count"), ("operators.cached_bytes", "bytes"),
    ]
    for entry, _ in CURATE:
        names += [(f"operators.{entry}.build_s", "s"),
                  (f"operators.{entry}.exec_s", "s"),
                  (f"operators.{entry}.build_jobs", "count")]
    names += [
        ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
        ("streaming.planning_ms", "ms"), ("streaming.commit_ms", "ms"),
        ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
        ("streaming.state_commit_ms", "ms"),
        ("streaming.batch_tail_ms", "ms"), ("streaming.batch_tail_pct", "pct"),
        ("streaming.batch_samples", "count"),
        ("arrow.bytes_to_python", "bytes"), ("arrow.bytes_from_python", "bytes"),
        ("arrow.python_s", "s"),
        ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
        ("spark.shuffle_read_bytes", "bytes"),
        ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
        ("spark.failed_tasks", "count"), ("spark.core_busy", "ratio"),
        ("oracles.check_s", "s"), ("oracles.mismatches", "count"),
        ("oracles.error_rate", "ratio"),
    ]
    names += [(f"self.{layer}_s", "s") for layer in SELF_LAYERS]
    names += [("trace.warm_pass_s", "s")]
    return names


SELF_LAYERS = ("pass", "schema", "synthesizers", "operators", "streaming",
               "io")


# ------------------------------------------------------------ process

def cores() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def since_process_start() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    resolution), so interpreter start-up and imports count."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def peak_rss_mb(*pids: int) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += int(next(l for l in f if l.startswith("VmHWM")).split()[1])
    return total_kb / 1024.0


PR_SET_CHILD_SUBREAPER = 36     # from <linux/prctl.h>


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        fields = _stat(d) if d.isdigit() else None
        if fields is not None and fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace: float = 20.0) -> None:
    """Stop the Spark session and its JVM, then every other process this
    one started, and wait until each has ended.  Safe to call twice.

    Closing the gateway's stdin is what makes the JVM exit; without the
    wait it would still be shutting down after this process has gone.
    Processes the JVM started (Python workers) are reparented to this
    process, a child subreaper, so they are found and collected too."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        gateway = SparkContext._gateway
        if sc is not None:
            try:
                sc.stop()
            except Exception:  # noqa: BLE001 - the JVM is stopped below
                pass
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(grace)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        _reap()
        pids = descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def configure(work: str) -> None:
    """Host-derived session settings, all through the environment so the
    repository's ``get_spark()`` is called unchanged."""
    with open("/proc/meminfo") as f:
        mem_mb = int(next(l for l in f if l.startswith("MemTotal")).split()[1]) // 1024
    # a fifth of host RAM, 1-4 GB: the session default (24g) exceeds
    # small hosts and the benchmark inputs are small
    heap_mb = min(4096, max(1024, mem_mb // 5))
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    # The parallel collector with fixed generation sizes: G1 sizes its young
    # generation and grows its heap from measured pause times, so peak RSS
    # followed the host's CPU contention (1.4-2.3 GB from run to run).  With
    # no pause-time goal the heap's footprint follows allocation alone.
    # Prepended to the session's own spark.driver.extraJavaOptions.
    gc = (f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy "
          f"-Xms{heap_mb}m -Xmn{heap_mb // 3}m")
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # streaming checkpoints and other JVM temp files
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # Python workers import the package (commuter_data, pandas UDFs)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf 'spark.driver.defaultJavaOptions={gc}'",
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "--conf spark.sql.streaming.forceDeleteTempCheckpointLocation=true",
            "pyspark-shell"]),
    })


def start_session():
    from nifi_datasynthesizer_spark import get_spark
    n = cores()
    spark = get_spark(app="perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.range(1).count()
    return spark


# --------------------------------------------------------------- passes

def cached_bytes(spark) -> int:
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in info)


def rule_seconds(spark) -> float:
    """Time Catalyst has spent in analyzer and optimizer rules in this
    JVM so far.  Spark meters it on every query, so reading it adds no
    planning work to a traced pass."""
    rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    return rules.getCurrentMetrics().time() / 1e9


def run_pass(ctx, ops, traced: bool):
    """One pass over ``ops``; returns (wall seconds, per-op results)."""
    from nifi_datasynthesizer_spark.operators.dedup import release_caches
    tracer = ctx.tracer
    tracer.enabled, tracer.run_id = traced, ctx.pass_idx
    if traced:
        tracer.skip_existing()
    results = []
    t0 = time.perf_counter()
    with tracer.span("pass", "pass"):
        for op in ops:
            t = time.perf_counter()
            try:
                with tracer.span(op.name, op.layer) as sp:
                    rules0 = rule_seconds(ctx.spark) if traced else 0.0
                    out = op.execute(ctx, op.build(ctx))
                    if traced and op.layer == "schema":
                        sp["counters"]["schema.plan_s"] = \
                            rule_seconds(ctx.spark) - rules0
                    if traced and op.layer == "operators":
                        sp["counters"]["operators.cached_bytes"] = cached_bytes(ctx.spark)
                err = None
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                out, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
            dt = time.perf_counter() - t
            release_caches()
            results.append({"op": op, "out": out, "err": err, "s": dt})
    wall = time.perf_counter() - t0
    if traced:
        tracer.collect(ctx.pass_idx)
    tracer.enabled = False
    return wall, results


def check_pass(ctx, results, oracle) -> float:
    """Compare every op output with its oracle (untimed); fills each
    result's ``err`` and ``rows``; returns seconds spent."""
    t0 = time.perf_counter()
    for r in results:
        op = r["op"]
        r["rows"] = 0
        if r["err"] is not None:
            continue
        try:
            r["err"] = oracle.check(op.name, lambda: op.expected_sql(ctx),
                                    op.actual(ctx, r["out"]))
            r["mismatch"] = r["err"] is not None
            r["rows"] = op.rows(ctx, r["out"])
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            r["err"] = f"check {type(exc).__name__}: {str(exc)[:300]}"
    return time.perf_counter() - t0


def units_ms(results) -> list[float]:
    """Latency samples of one pass: micro-batch trigger times on the
    stream workload, whole operation calls elsewhere."""
    out = []
    for r in results:
        if r["op"].units is not None:
            if r["out"] is not None:
                out += r["op"].units(r["out"])
        else:
            out.append(r["s"] * 1000.0)
    return out


# ----------------------------------------------------------- per layer

def layer_metrics(tracer, run: int, results, wall: float) -> dict:
    """Per-layer figures of one traced pass from its spans and counters."""
    from stats import self_times
    from workloads import _get
    spans = [s for s in tracer.spans if s["run"] == run]
    by_id = {s["id"]: s for s in spans}
    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0) + v

    def op_of(s):
        """The operation span (a direct child of the pass) above ``s``."""
        while s is not None and (s["parent"] is None
                                 or by_id[s["parent"]]["layer"] != "pass"):
            s = by_id.get(s["parent"])
        return s

    for s in spans:
        dur = s["end"] - s["start"]
        for k, v in s["counters"].items():
            add(k, v)
        op = op_of(s)
        if op is None or op is s:
            continue
        lay = op["layer"]
        if s["name"] == "compile":
            add("schema.compile_s", dur)
        elif s["name"] == "write":
            add("io.write_s", dur)
            add("schema.exec_s" if lay == "schema" else "synthesizers.exec_s", dur)
        elif s["name"] in ("build", "exec") and lay in ("schema", "synthesizers",
                                                      "operators"):
            add(f"{lay}.{s['name']}_s", dur)
            if lay == "operators":
                add(f"operators.{op['name']}.{s['name']}_s", dur)
                jobs = s["counters"].get("spark.jobs", 0)
                add(f"operators.{s['name']}_jobs", jobs)
                if s["name"] == "build":
                    add(f"operators.{op['name']}.build_jobs", jobs)
        if lay == "operators":
            add("operators.sql_execs", s["counters"].get("spark.sql_execs", 0))
    for r in results:
        op = r["op"]
        if op.layer in ("schema", "synthesizers"):
            add(f"{op.layer}.rows", r["rows"])
            if r["out"]:
                for d, _, files in os.walk(r["out"]):
                    for f in files:
                        if f.endswith(".parquet"):
                            add("io.files_written", 1)
                            add("io.bytes_written", os.path.getsize(os.path.join(d, f)))
        if op.layer == "streaming" and r["out"] is not None:
            progress = r["out"][1]
            add("streaming.batches", len(progress))
            for p in progress:
                dur = _get(p, "durationMs")
                add("streaming.add_batch_ms", dur.get("addBatch", 0))
                add("streaming.planning_ms", dur.get("queryPlanning", 0))
                add("streaming.commit_ms",
                    dur.get("walCommit", 0) + dur.get("commitOffsets", 0))
                for so in _get(p, "stateOperators"):
                    add("streaming.state_commit_ms", _get(so, "commitTimeMs"))
            if progress:
                for so in _get(progress[-1], "stateOperators"):
                    add("streaming.state_rows", _get(so, "numRowsTotal"))
                    add("streaming.state_bytes", _get(so, "memoryUsedBytes"))
    selfs = self_times(spans)
    for s in spans:
        if s["layer"] in SELF_LAYERS:
            add(f"self.{s['layer']}_s", selfs[s["id"]])
    m["spark.core_busy"] = m.get("spark.executor_run_s", 0) / (wall * cores())
    return m


# ----------------------------------------------------------------- main

def run_workload(args) -> dict:
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure(work)
    spark = start_session()
    setup = since_process_start()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    import datagen
    from gate import Oracle
    from stats import error_rate, tail_percentile
    from spans import Tracer
    from workloads import EXCLUDED, INPUTS, WORKLOADS, Ctx

    phases = {"setup": setup}
    t_phase = time.perf_counter()
    size = "smoke" if args.smoke else "full"
    ctx = Ctx(spark=spark, tracer=Tracer(spark, False), entry=entry,
              data_dir=os.path.join(work, "data"), work_dir=work,
              seed=args.seed, smoke=args.smoke)
    # registry guard: every entry a workload mirrors must still exist
    named = {op.registry for w in WORKLOADS.values() for op in w()}
    missing = sorted(n for n in named
                     if n not in ctx.queries or n not in ctx.oracles)
    if missing:
        raise SystemExit(f"registry entries missing from queries() or "
                         f"oracle_sql(): {missing}")
    ops = WORKLOADS[args.workload]()

    if INPUTS[args.workload]:
        ctx.table_rows = datagen.write_tables(ctx.data_dir, args.seed, size)
    oracle = Oracle(ctx.data_dir, INPUTS[args.workload])
    if args.workload == "stream":
        from workloads import STREAM_FILES, stream_dir
        for table, col in (("events", "ts"), ("documents", "doc_id")):
            datagen.split_for_stream(
                os.path.join(ctx.data_dir, f"{table}.parquet"),
                stream_dir(ctx, table), STREAM_FILES, col)
            ctx.stream_schemas[table] = spark.read.parquet(
                stream_dir(ctx, table)).schema

    phases["prep"] = time.perf_counter() - t_phase
    # the cold pass, then warm passes (all traced with --trace 1) until
    # --seconds have passed, at least two; outputs are checked after the
    # session stops, so the checker neither slows the passes nor adds to
    # peak RSS
    passes = [run_pass(ctx, ops, traced=False)]     # (wall, results)
    t_warm = time.perf_counter()
    while len(passes) < 3 or time.perf_counter() - t_warm < args.seconds:
        ctx.pass_idx = len(passes)
        passes.append(run_pass(ctx, ops, bool(args.trace)))
    phases["passes"] = time.perf_counter() - t_phase - phases["prep"]
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = peak_rss_mb(os.getpid(), jvm_pid)
    stop_processes()

    outcomes: list[bool] = []
    errors: list[str] = []
    checks = [check_pass(ctx, results, oracle) for _, results in passes]
    oracle.close()
    for p, (_, results) in enumerate(passes):
        for r in results:
            outcomes.append(r["err"] is None)
            if r["err"] is not None:
                errors.append(f"pass {p} {r['op'].name}: {r['err']}")
    phases["checks"] = sum(checks)

    warm = passes[1:]
    samples = [u for _, rs in warm for u in units_ms(rs)]
    attempted, failed, err_rate = error_rate(outcomes)
    e2e = {
        "setup_s": setup,
        "cold_pass_s": passes[0][0],
        "warm_pass_s": statistics.median(w for w, _ in warm),
        "rows_per_s": statistics.median(sum(r["rows"] for r in rs) / w
                                        for w, rs in warm),
        "batch_p50_ms": statistics.median(samples),
    }
    # the tail rule runs on the first two warm passes, which every run has,
    # so the percentile it picks does not move with the number of passes;
    # it needs at least 20 samples, and with fewer (synth and curate give
    # one per operation) each warm pass's slowest sample stands in, median
    # over the warm passes
    tail_samples = [u for _, rs in warm[:2] for u in units_ms(rs)]
    tail = tail_percentile(tail_samples) or (
        100, statistics.median(max(units_ms(rs)) for _, rs in warm))
    e2e["batch_tail_ms"] = tail[1]
    e2e["peak_rss_mb"] = rss
    info = {"error_rate": err_rate, "batch_samples": len(samples),
            "batch_tail": tail, "tail_samples": len(tail_samples),
            "warm_passes": len(warm),
            "phases": phases, "errors": errors[:20],
            "op_s": {op.name: [r["s"] for _, rs in passes for r in rs
                               if r["op"] is op] for op in ops},
            "excluded": EXCLUDED}

    per_layer = None
    if args.trace:
        figs = [layer_metrics(ctx.tracer, p, rs, w)
                for p, (w, rs) in enumerate(passes) if p > 0]
        per_layer = {}
        for name, _ in _per_layer_names():
            vals = [f.get(name, 0) for f in figs]
            per_layer[name] = statistics.median(vals) if vals else 0
        per_layer["session.start_s"] = setup
        if args.workload == "stream":
            per_layer["streaming.batch_samples"] = len(samples)
            per_layer["streaming.batch_tail_pct"], per_layer["streaming.batch_tail_ms"] = tail
        per_layer["oracles.check_s"] = statistics.median(checks)
        per_layer["oracles.mismatches"] = sum(r.get("mismatch", False)
                                              for _, rs in passes for r in rs)
        per_layer["oracles.error_rate"] = err_rate
        per_layer["trace.warm_pass_s"] = e2e["warm_pass_s"]
        ctx.tracer.dump(os.path.join(work, "trace.json"),
                        {"per_layer": per_layer, "end_to_end": e2e, "info": info})
    return {"e2e": e2e, "per_layer": per_layer, "info": info,
            "attempted": attempted, "failed": failed}


def print_result(workload: str, res: dict, trace: int) -> dict:
    units = dict(E2E)
    for name, v in res["e2e"].items():
        print(f"{workload:7s} {name:22s} {v:14.4f} {units[name]}")
    info = res["info"]
    print(f"{workload:7s} {'error_rate':22s} {info['error_rate']:14.4f} ratio "
          f"({res['failed']} of {res['attempted']} operations)")
    if info["batch_tail"][0] == 100:
        print(f"{workload:7s} batch_tail_ms is the median of each warm pass's "
              f"slowest sample ({info['batch_samples']} samples)")
    else:
        print(f"{workload:7s} batch_tail_ms is p{info['batch_tail'][0]} of the "
              f"first two warm passes' {info['tail_samples']} samples")
    print(f"{workload:7s} phases " + " ".join(f"{k}={v:.2f}" for k, v in info["phases"].items()))
    for name, ts in info["op_s"].items():
        print(f"{workload:7s} op {name:32s} " + " ".join(f"{t:7.3f}" for t in ts))
    for e in info["errors"]:
        print(f"{workload:7s} FAILED {e}")
    if trace:
        for name, unit in _per_layer_names():
            print(f"{workload:7s} {name:32s} {res['per_layer'][name]:16.4f} {unit}")
    metrics = res["per_layer"] if trace else res["e2e"]
    unit_of = dict(_per_layer_names()) if trace else units
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()}}


def _child(args, workload: str, trace: int) -> dict | None:
    """Run one workload in a fresh process; echo its metric lines and
    return its result object (None if it failed)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace)] + (["--smoke"] if args.smoke else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        proc.terminate()            # the child stops its own JVM on SIGTERM
        stdout, stderr = proc.communicate()
    lines = stdout.strip().splitlines()
    print("\n".join(lines[:-1]), flush=True)
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stderr[-3000:])
        return None
    return json.loads(lines[-1])


def run_all(args) -> int:
    """Each workload in its own fresh process; prints every metric.  With
    ``--trace 1`` each workload also runs untraced, and the tracing
    overhead is traced minus untraced ``warm_pass_s``."""
    results = {}
    for w in ("synth", "curate", "stream"):
        res = _child(args, w, args.trace)
        if res is None:
            return 1
        if args.trace:
            plain = _child(args, w, 0)
            if plain is None:
                return 1
            overhead = (res["metrics"]["trace.warm_pass_s"]["value"]
                        - plain["metrics"]["warm_pass_s"]["value"])
            print(f"{w:7s} {'trace.overhead_s':32s} {overhead:16.4f} s "
                  f"(traced minus untraced warm_pass_s)")
            res["metrics"]["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        results[w] = res
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()}}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("synth", "curate", "stream", "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: checks wiring, not speed")
    args = ap.parse_args(argv)
    for need in ("nifi_datasynthesizer_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.stderr.write(f"perfbench: {need} not found next to perfbench/; "
                             f"run from a checkout of the repository\n")
            return 2
    sys.path.insert(0, ROOT)
    if args.workload is None:
        ap.error("--workload is required")
    # every path out stops the processes this one started: orphans of the
    # JVM are reparented here, and SIGTERM becomes SystemExit so the
    # finally clause runs
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload == "all":
            return run_all(args)
        res = run_workload(args)
    finally:
        stop_processes()
    result = print_result(args.workload, res, args.trace)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
