"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload region_lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics (and the span
JSON is written under ``perfbench/.cache/traces/``). ``--smoke`` runs
every op of the workload once on tiny inputs with every output check.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# every run measures at least this many passes, so the per-pass metrics are
# medians and not single samples
MIN_PASSES = 2
HARD_LIMIT_S = 170  # a run ends (and fails) before 180 s
FIRST_RUN_LIMIT_S = 600  # a run that built its inputs may take longer

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "scan_mb_s": "MB/s",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


TAIL_PCT = 90.0


def tail(xs: list[float]) -> float:
    """The nearest-rank 90th percentile. A run holds 4 to 18 latency samples,
    too few for a percentile with ten samples beyond it."""
    s = sorted(xs)
    return s[math.ceil(TAIL_PCT / 100 * len(s)) - 1]


# ------------------------------------------------------------------ the run


class Ctx:
    """What an op sees: the session, the tracer and its job-group phases."""

    def __init__(self, spark, xs, tracer):
        self.spark, self.xs, self.tracer = spark, xs, tracer
        self.sc = spark.sparkContext
        self.op_id = ""
        self.groups: list[str] = []
        self.python_route = False

    @contextmanager
    def phase(self, name: str):
        group = f"{self.op_id}|{name}"
        self.groups.append(group)
        self.sc.setJobGroup(group, name)
        with self.tracer.span(name, group=group):
            yield

    def note_plan(self, df) -> None:
        """Record whether the op's executed plan reads through a Python
        DataSource (traced passes only)."""
        if self.tracer.enabled:
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.python_route = re.search(r"BatchScan [^\n]*\(Python\)", plan) is not None


def drop_intermediates(spark) -> None:
    """Drop cached tables and persisted RDD blocks (bench.py's hygiene)."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def setup(wl, tracer):
    """Spark start, registration, the workload's DDL and a page-cache warm."""
    from exon_spark import ExonSession

    with tracer.span("setup"):
        xs = ExonSession()
        xs.spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(xs.spark, xs, tracer)
        wl.ddl(ctx)
        for path in wl.warm_files():
            files = [path] if os.path.isfile(path) else [
                os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs
            ]
            for f in files:
                with open(f, "rb") as fh:
                    while fh.read(1 << 24):
                        pass
    return ctx


def run_pass(ctx, wl, ops, tree, rss, traced: bool, tag: str) -> dict:
    from perfbench import probe
    from perfbench.workloads import Outcome

    ctx.tracer.enabled = traced
    ctx.groups = []
    recs = []
    steal0 = probe.cpu_ticks()
    rss.reset()
    t_pass = time.perf_counter()
    for k, op in enumerate(ops):
        ctx.op_id = f"{tag}.{k}.{op.name}"
        ctx.tracer.op = ctx.op_id
        ctx.python_route = False
        r0 = tree.rchar() if traced else 0
        c0 = tree.cpu()
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op", kind=op.kind, op_name=op.name):
                check = op.run(ctx)
            err = None
        except Exception as e:  # one failed op must not end the run
            err = f"{type(e).__name__}: {e}"[:2000]
        t1 = time.perf_counter()
        c1 = tree.cpu()
        r1 = tree.rchar() if traced else 0
        if err is None:
            try:
                out = check()
            except Exception as e:
                out = Outcome(False, detail=f"check raised {type(e).__name__}: {e}")
        else:
            out = Outcome(False, detail=err)
        if not out.ok:
            log(f"FAILED {op.name}: {out.detail}")
        recs.append(
            {
                "op": op.name,
                "op_id": ctx.op_id,
                "kind": op.kind,
                "t0": t0,
                "wall": t1 - t0,
                "cpu": c1["total"] - c0["total"],
                "driver_cpu": c1["driver"] - c0["driver"],
                "py_cpu": c1["python_workers"] - c0["python_workers"],
                "ok": out.ok,
                "rows": out.rows,
                "written_mb": out.written_bytes / 1e6,
                "input_mb": op.input_mb,
                "rchar": r1 - r0,
                "python_route": ctx.python_route,
            }
        )
        drop_intermediates(ctx.spark)
    ctx.tracer.enabled = False
    end = time.perf_counter()
    shutil.rmtree(wl.out_dir, ignore_errors=True)
    os.makedirs(wl.out_dir, exist_ok=True)
    return {
        "ops": recs,
        "start": t_pass,
        "end": end,
        "wall": sum(r["wall"] for r in recs),
        "cpu": sum(r["cpu"] for r in recs),
        "peak_rss_mb": rss.peak,
        "steal_pct": probe.steal_pct(steal0, probe.cpu_ticks()),
        "groups": list(ctx.groups),
        "traced": traced,
    }


def _throughput(recs, mb_key, kinds) -> float:
    sel = [r for r in recs if r["kind"] in kinds]
    t = sum(r["wall"] for r in sel)
    return sum(r[mb_key] for r in sel) / t if t > 0 else 0.0


READ_KINDS = ("lookup", "query")


def latencies(passes) -> list[float]:
    """Wall times of the lookups and queries of ``passes`` (COPYs left out)."""
    return [r["wall"] for p in passes for r in p["ops"] if r["kind"] in READ_KINDS]


def end_to_end(setup_s, passes) -> dict:
    ops = latencies(passes)
    m = {
        "setup_s": setup_s,
        "wall_s": _median(p["wall"] for p in passes),
        "cpu_s": _median(p["cpu"] for p in passes),
        "op_p50_s": _median(ops),
        "op_tail_s": tail(ops),
        "scan_mb_s": _median(_throughput(p["ops"], "input_mb", READ_KINDS) for p in passes),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}


# ------------------------------------------------------------------- tracing


def _spans_by_op(spans):
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s["op"], []).append(s)
    return out


def _top_level(spans, name):
    """Durations of spans named ``name`` not nested in another of the same
    name."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p, nested = s["parent"], False
        while p is not None and p in by_id:
            if by_id[p]["name"] == name:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            out.append(s["end"] - s["start"])
    return out


def per_layer(ins, tracer, setup_spans, passes, rest_by_pass) -> dict:
    from perfbench.inputs import LLM_QUERIES
    from perfbench.probe import covered

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    by_op = _spans_by_op(tracer.spans)
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def phase_s(op_id, phase):
        return sum(
            s["end"] - s["start"] for s in by_op.get(op_id, ()) if s["name"] == phase
        )

    put("session.register_s", sum(_top_level(setup_spans, "session.register")), "s")
    put("session.ddl_s", sum(_top_level(setup_spans, "session.ddl")), "s")
    lookups = [r for p in traced for r in p["ops"] if r["kind"] == "lookup"]
    put("session.sql_s", _median([sum(_top_level(by_op.get(r["op_id"], []), "session.sql")) for r in lookups]), "s")
    put(
        "sources.plan_s",
        _median([sum(sum(_top_level(by_op.get(r["op_id"], []), "sources.read_format")) for r in p["ops"]) for p in traced]),
        "s",
    )

    def per_pass(fn):
        return _median([fn(p, rest_by_pass[i]) for i, p in enumerate(traced)])

    def reads(p):
        return [r for r in p["ops"] if r["kind"] in READ_KINDS]

    put(
        "sources.mb_per_cpu_s",
        per_pass(lambda p, _r: sum(r["input_mb"] for r in reads(p)) / max(sum(r["cpu"] for r in reads(p)), 1e-9)),
        "MB/cpu-s",
    )
    put("sources.python_route_ops", per_pass(lambda p, _r: sum(r["python_route"] for r in reads(p))), "count")
    put("sources.rows_out", per_pass(lambda p, _r: sum(r["rows"] for r in p["ops"])), "count")
    put("sources.lookup_exec_s", _median([phase_s(r["op_id"], "action") for r in lookups]), "s")

    lk = [(r, rest_by_pass[i]) for i, p in enumerate(traced) for r in p["ops"] if r["kind"] == "lookup"]
    put("sources.lookup_tasks", _median([rest["tasks_per_op"].get(r["op_id"], 0) for r, rest in lk]), "count")
    put("sources.lookup_bytes_read", _median([r["rchar"] for r in lookups]), "B")

    def kind_phase(p, kind, phase):
        return sum(phase_s(r["op_id"], phase) for r in p["ops"] if r["kind"] == kind)

    def kind_jobs(rest, p, kind, phase):
        return sum(
            rest["jobs_per_group"].get(f"{r['op_id']}|{phase}", 0)
            for r in p["ops"]
            if r["kind"] == kind
        )

    put("operators.call_s", per_pass(lambda p, _r: kind_phase(p, "query", "call")), "s")
    put("operators.call_jobs", per_pass(lambda p, rest: kind_jobs(rest, p, "query", "call")), "count")
    put("operators.action_s", per_pass(lambda p, _r: kind_phase(p, "query", "action")), "s")
    for q in LLM_QUERIES:
        put(f"operators.{q}_s", _median([r["wall"] for p in traced for r in p["ops"] if r["op"] == q]), "s")
    put("sinks.copy_s", per_pass(lambda p, _r: sum(r["wall"] for r in p["ops"] if r["kind"] == "copy")), "s")
    put("sinks.bytes_written_mb", per_pass(lambda p, _r: sum(r["written_mb"] for r in p["ops"])), "MB")
    put("sinks.copy_mb_s", per_pass(lambda p, _r: _throughput(p["ops"], "written_mb", ("copy",))), "MB/s")
    put("sinks.jobs", per_pass(lambda p, rest: kind_jobs(rest, p, "copy", "copy")), "count")
    put("python.worker_cpu_s", per_pass(lambda p, _r: sum(r["py_cpu"] for r in p["ops"])), "s")
    put("python.bytes_to_worker_mb", per_pass(lambda p, rest: rest["py_to_mb"]), "MB")
    put("python.bytes_from_worker_mb", per_pass(lambda p, rest: rest["py_from_mb"]), "MB")
    put("driver.python_cpu_s", per_pass(lambda p, _r: sum(r["driver_cpu"] for r in p["ops"])), "s")
    put("spark.driver_gap_s", per_pass(lambda p, rest: max(p["wall"] - covered(rest["intervals"]), 0.0)), "s")
    for key, unit in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("executor_cpu_s", "s"),
        ("executor_run_s", "s"),
        ("shuffle_write_mb", "MB"),
        ("shuffle_read_mb", "MB"),
        ("fetch_wait_s", "s"),
        ("spill_mb", "MB"),
        ("gc_s", "s"),
    ):
        put(f"spark.{key}", per_pass(lambda p, rest, key=key: rest[key]), unit)
    put("memory.peak_rss_mb", _median([p["peak_rss_mb"] for p in passes]), "MB")
    put("host.steal_pct", _median([p["steal_pct"] for p in passes]), "%")
    t_wall = _median([p["wall"] for p in traced])
    u_wall = _median([p["wall"] for p in plain])
    put("trace.overhead_pct", 100.0 * (t_wall / u_wall - 1.0) if u_wall else 0.0, "%")
    put("setup.fixture_gen_s", ins.gen_s, "s")
    put("ops.samples", len(latencies(passes)), "count")
    put("ops.tail_pct", TAIL_PCT, "%")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ---------------------------------------------------------------------- main


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark, tree) -> None:
    """Stop Spark and the JVM, then wait until every process the run
    started has ended."""
    from pyspark import SparkContext

    started = set(tree.pids()) - {os.getpid()}
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _watchdog(seconds: float) -> None:
    """Interrupt the run after ``seconds``; end the process if that does
    not stop it."""

    main_id = threading.main_thread().ident

    def fire():
        log(f"run exceeded {seconds:.0f} s; interrupting")
        # a signal (not interrupt_main) also breaks a blocking socket read
        signal.pthread_kill(main_id, signal.SIGINT)
        time.sleep(8)
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke",
        action="store_true",
        help="tiny inputs, every op once with its output check",
    )
    args = ap.parse_args(argv)

    result_fd = os.dup(1)
    os.dup2(2, 1)  # stdout carries the result line only; the rest goes to stderr
    cache = os.path.join(HERE, ".cache")
    tmp = os.path.join(cache, "tmp")
    # every run starts without the previous run's temp and shuffle files
    for d in (tmp, os.path.join(cache, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    # every JVM of the run (the codec jar build, the spark-submit launcher,
    # the driver) would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None

    from perfbench import inputs, probe

    t = time.perf_counter()
    ins = inputs.ensure("smoke" if args.smoke else "bench")
    gen_wait = time.perf_counter() - t
    log(f"inputs ready in {gen_wait:.1f} s (one-time generation {ins.gen_s:.1f} s)")
    # the first run in a checkout also builds the inputs and the codec jar
    _watchdog(HARD_LIMIT_S if gen_wait < 1 else FIRST_RUN_LIMIT_S)
    wl = WORKLOADS[args.workload](ins, args.seed)
    tracer = probe.Tracer()
    if args.trace:
        probe.install_entry_point_spans(tracer)
    tree = probe.ProcTree()

    ctx = None
    try:
        tracer.enabled, tracer.op = bool(args.trace), "setup"
        ctx = setup(wl, tracer)
        tracer.enabled = False
        # from process start to the first op ready, input generation excluded
        setup_s = time.perf_counter() - T0 - gen_wait
        setup_spans = list(tracer.spans)
        log(f"setup {setup_s:.2f} s")
        os.makedirs(wl.out_dir, exist_ok=True)
        rest = probe.SparkRest(ctx.spark) if args.trace else None
        passes, rest_by_pass = [], []
        with probe.PeakRss(tree) as rss:
            # a smoke run has only this pass: every op of a pass once,
            # traced when --trace 1
            smoke_traced = args.smoke and bool(args.trace)
            ops = wl.pass_ops() if args.smoke else wl.warmup_ops()
            warm = run_pass(ctx, wl, ops, tree, rss, smoke_traced, "warm")
            if smoke_traced:
                rest_by_pass.append(rest.groups(warm["groups"]))
            log(
                f"warm-up pass {warm['wall']:.2f} s | "
                + " ".join(f"{r['op']}={r['wall']:.2f}" for r in warm["ops"])
            )
            if args.smoke:
                passes = [warm]
            t_end = time.perf_counter() + args.seconds
            while not args.smoke:
                traced = bool(args.trace) and len(passes) % 2 == 1
                p = run_pass(ctx, wl, wl.pass_ops(), tree, rss, traced, f"p{len(passes)}")
                passes.append(p)
                log(
                    f"pass {len(passes)}{' traced' if traced else ''}: {p['wall']:.2f} s | "
                    + " ".join(f"{r['op']}={r['wall']:.2f}" for r in p["ops"])
                )
                if traced:
                    rest_by_pass.append(rest.groups(p["groups"]))
                # traced runs end on an untraced pass: one before and one after
                # the first traced pass, so warming does not bias the overhead
                if time.perf_counter() >= t_end and len(passes) >= MIN_PASSES + bool(args.trace):
                    break
        done = warm["ops"] + ([] if args.smoke else [r for p in passes for r in p["ops"]])
        failed = sum(not r["ok"] for r in done)
        if args.trace:
            metrics = per_layer(ins, tracer, setup_spans, passes, rest_by_pass)
            trace_dir = os.path.join(cache, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(
                    {
                        "workload": args.workload,
                        "seed": args.seed,
                        "t0": T0,
                        "spans": tracer.spans,
                        "spark_by_pass": rest_by_pass,
                        "passes": passes,
                    },
                    fh,
                )
            log(f"spans written to {path}")
        else:
            metrics = end_to_end(setup_s, passes)
            log(
                f"op_tail_s is p{TAIL_PCT:.0f} of {len(latencies(passes))} samples; "
                f"steal {_median([p['steal_pct'] for p in passes]):.2f}%"
            )
    except KeyboardInterrupt:
        log("interrupted")
        shutdown(ctx.spark if ctx else None, tree)
        return 3
    except Exception:
        traceback.print_exc()
        shutdown(ctx.spark if ctx else None, tree)
        return 1
    t = time.perf_counter()
    shutdown(ctx.spark, tree)
    log(f"shutdown {time.perf_counter() - t:.1f} s; run {time.perf_counter() - T0:.1f} s")
    result = {
        "correct": failed == 0,
        "attempted": len(done),
        "failed": failed,
        "metrics": metrics,
    }
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(REPO, "exon_spark")):
        print(
            f"error: no exon_spark package next to {HERE}; run from a repository checkout",
            file=sys.stderr,
        )
        sys.exit(2)
    sys.path.insert(0, REPO)
    sys.exit(main())
