"""Layer-resolved benchmark for samba_spark: one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 1 --trace 0

Reads the fixture tables under perfbench/fixtures/, starts a local Spark
session sized to the host, runs one checked pass (every output compared
against its oracle) and a fixed number of warm-up passes, then runs whole
passes of the workload until ``--seconds`` have elapsed. ``--seed``
sets the op order of every pass, the sampled lineage targets and the
file-group contents. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones. The
line before it is a JSON run report (host settings, CPU/steal meters,
warm-up history). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import JitMeter, descendants, same_process, tree_cpu_s  # noqa: E402

WORKLOAD_NAMES = ("olap_mix", "store_graph", "prov_workflow")
# copies, byte for byte, of the repository's test fixture tables; every
# --seed reads the same tables. The scale each workload reads is the
# largest the run budget allows (README.md, "Scope"); the smoke run reads
# sf0.001 throughout.
FIXTURES = os.path.join(ROOT, "perfbench", "fixtures")
DATA = {"olap_mix": "sf0.01", "store_graph": "sf0.001", "prov_workflow": "sf0.001"}
# untimed passes after the checked pass, charged to setup_s; as many as
# the run budget allows (README.md, "Warm-up and the JIT")
WARMUP_PASSES = {"olap_mix": 1, "store_graph": 0, "prov_workflow": 0}
UNTIMED_WORKERS = 4  # chains run at once in the checked and warm-up passes
# a traced op's wall time may differ from the sum of its layer spans by
# this share of it, plus RECONCILE_SLACK_S for the runner's own glue
RECONCILE_TOL = 0.05
RECONCILE_SLACK_S = 0.05
STOP_WAIT_S = 30  # per stage of stopping the run's processes


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_host(run_dir: str) -> dict:
    """Host settings, fixed before samba_spark is imported (session.py reads
    SPARK_GRAFT_CPUS at import to size shuffle partitions)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_mb // 4))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM the run starts (launcher and driver): temp files in the
        # run directory, no hsperfdata file under the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SAMBA_PROV_DIR": os.path.join(run_dir, "prov-default"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    return {**settings, "host_mem_mb": mem_mb}


def stop_processes(gateway) -> None:
    """Stop every process this run started and wait until each has ended:
    the driver JVM, which exits when the pipe to its stdin closes, then
    whatever it left (PySpark daemon and workers, black-box children),
    listed before the JVM went because an orphan no longer descends from
    this process."""
    left = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(STOP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left.update(descendants(os.getpid()))
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = {p: t for p, t in left.items() if same_process(p, t)}
        if not live:
            break
        _log(f"sending {sig.name} to {sorted(live)}")
        for pid in live:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        deadline = time.monotonic() + STOP_WAIT_S
        while any(same_process(p, t) for p, t in live.items()) and (
            time.monotonic() < deadline
        ):
            _reap()
            time.sleep(0.05)
    _reap()


def _reap() -> None:
    """Collect the exit status of this process's ended children."""
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def _exit_on_sigterm(_signum, _frame):
    raise SystemExit(143)  # runs the cleanup in main's finally


def tree_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


class Context:
    """What the workloads share: the session, the fixture tables, the
    oracle connection, the seeded RNG and the run's bookkeeping."""

    def __init__(self, spark, run_dir, data_dir, rng, tracer, duck):
        self.spark = spark
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.rng = rng
        self.tracer = tracer
        self._duck = duck
        self._local = threading.local()
        self._dirs = itertools.count(1)
        self.store_samples: list[tuple[str, int, int]] = []
        self.prov_capture: list[tuple[int, int]] = []
        self.artifact_bytes: list[int] = []
        self.last_capture = None
        self.last_artifacts = None
        self.sequences = [
            "".join(rng.choice(list("ACGT"), int(rng.integers(40, 400))))
            for _ in range(2)
        ]

    @property
    def duck(self):
        """This thread's DuckDB cursor over the fixture views."""
        cur = getattr(self._local, "duck", None)
        if cur is None:
            cur = self._local.duck = self._duck.cursor()
        return cur

    def table_path(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    def fresh_dir(self, prefix: str) -> str:
        path = os.path.join(self.run_dir, "work", f"{prefix}{next(self._dirs)}")
        os.makedirs(path)
        return path

    du = staticmethod(tree_bytes)

    def record_store(self, kind: str, path: str, live_rows: int) -> None:
        """Bytes on disk of a store after a lifecycle, with its live rows."""
        self.store_samples.append((kind, tree_bytes(path), live_rows))


def _materialize(out, check_mode: bool):
    """Run a lazy result: collect it when checking, else a noop-sink write."""
    from pyspark.sql import DataFrame

    if not isinstance(out, DataFrame):
        return out, None
    if check_mode:
        return [tuple(r) for r in out.collect()], out.columns
    out.write.format("noop").mode("overwrite").save()
    return None, None


class Runner:
    """Runs passes of one workload and keeps per-op samples."""

    def __init__(self, ctx, pass_fn, catalyst: bool, jvm_pid: int):
        self.ctx = ctx
        self.pass_fn = pass_fn
        self.catalyst = catalyst
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[tuple[str, float]] = []  # untraced (op name, s)
        # untraced timed passes: CPU-s outside the JIT, and of the JIT
        self.pass_cpu: list[float] = []
        self.pass_jit: list[float] = []
        self.jit_history: list[float] = []  # JIT CPU-s of every pass
        self.check_samples: list[tuple[str, float]] = []  # checked pass
        self.op_wall: dict[str, float] = {}  # traced op id -> s
        self.catalyst_phases: list[dict] = []
        self._lock = threading.Lock()

    def run_pass(self, check_mode: bool = False, record: bool = False,
                 traced: bool = False, workers: int = 1) -> float:
        """Run one pass and return its wall time. Outputs are checked when
        ``check_mode``; op times are kept when ``record``; spans are
        recorded when ``traced``. ``workers`` > 1 runs that many chains at
        once (only for the untimed checked and warm-up passes)."""
        ctx = self.ctx
        ctx.tracer.enabled = traced
        chains = self.pass_fn(ctx)
        order = [chains[i] for i in ctx.rng.permutation(len(chains))]
        if workers > 1:  # longest chains first, so the pass ends sooner
            order.sort(key=len, reverse=True)
        jit = JitMeter(self.jvm_pid)
        jit.start()
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        if workers > 1:
            with ThreadPoolExecutor(workers) as pool:
                done = list(pool.map(
                    lambda c: self._run_chain(c, check_mode, traced), order
                ))
        else:
            done = [self._run_chain(c, check_mode, traced) for c in order]
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        jit_s = jit.stop()
        self.jit_history.append(jit_s)
        if record and not traced:
            self.pass_cpu.append(cpu - jit_s)
            self.pass_jit.append(jit_s)
        ctx.tracer.enabled = False
        if traced:
            ctx.tracer.count_jobs()
        for name, op_id, took in (t for chain in done for t in chain):
            if traced:
                self.op_wall[op_id] = took
            elif record:
                self.samples.append((name, took))
            elif check_mode:
                self.check_samples.append((name, took))
        return wall

    def _run_chain(self, chain, check_mode, traced) -> list[tuple]:
        """Run a chain's ops in order; stop at the first failure, since the
        rest of the chain depends on it. Returns (name, op id, seconds)."""
        timings = []
        for op in chain:
            with self._lock:
                self.attempted += 1
                op_id = f"{op.name}#{self.attempted}"
            try:
                start = time.perf_counter()
                with self.ctx.tracer.span(op.name, op_id):
                    result, cols = self._call(op, check_mode, traced)
                took = time.perf_counter() - start
                if check_mode and op.check is not None:
                    op.check(result, cols)
                if op.after is not None:
                    op.after()
            except Exception as exc:  # a failed op must not end the run
                with self._lock:
                    self.failures.append(f"{op.name}: {exc!r}")
                _log(f"FAILED {op.name}\n{traceback.format_exc()}")
                break
            timings.append((op.name, op_id, took))
        return timings

    def _call(self, op, check_mode, traced):
        """The op's layer calls, each in a child span of the op's span, so
        the op span's own self time is the runner's glue."""
        span = self.ctx.tracer.span
        with span(op.build_span or op.name):
            out = op.fn()
        if traced and self.catalyst and op.build_span is not None:
            with span("catalyst.plan"):
                self.catalyst_phases.append(catalyst_phases(out))
        with span("spark.run"):
            return _materialize(out, check_mode)


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning seconds from the DataFrame's
    QueryExecution tracker. Planning is forced here, so traced passes plan
    each query once more than untraced ones (part of trace.overhead_s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", choices=sorted(os.listdir(FIXTURES)),
                    help="fixture scale to read (default: the workload's)")
    args = ap.parse_args(argv)
    args.data = args.data or DATA[args.workload]
    data_dir = os.path.join(FIXTURES, args.data)

    if not os.path.isfile(os.path.join(ROOT, "samba_spark", "session.py")):
        _log(f"no samba_spark package under {ROOT}; run from a full checkout")
        return 2

    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    scaling_dir = os.path.join(ROOT, ".scaling")
    scaling_before = tree_bytes(scaling_dir)
    host = pin_host(run_dir)
    spark = None
    try:
        import numpy as np

        from perfbench import oracle, workloads
        from perfbench.trace import HostMeter, Tracer, live_heap_mb, vm_hwm_mb
        from samba_spark.session import get_spark

        log_dir = os.path.join(host["SPARK_LOCAL_DIRS"], "events")
        spark = get_spark("perfbench", extra_conf=_spark_conf(host, run_dir, log_dir, args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark, enabled=False)
        ctx = Context(
            spark, run_dir, data_dir, np.random.default_rng(args.seed),
            tracer, oracle.connect(data_dir),
        )
        if args.trace:
            _patch_layers(tracer)
        runner = Runner(
            ctx, workloads.WORKLOADS[args.workload],
            catalyst=args.workload == "olap_mix", jvm_pid=jvm_pid,
        )
        # checked pass (cold): every output against its oracle, then warm-up
        warmup = [runner.run_pass(check_mode=True, workers=UNTIMED_WORKERS)]
        for _ in range(WARMUP_PASSES[args.workload]):
            warmup.append(runner.run_pass(workers=UNTIMED_WORKERS))
        ctx.store_samples.clear()
        ctx.prov_capture.clear()
        ctx.artifact_bytes.clear()
        setup_s = time.perf_counter() - T_PROCESS

        # timed region: whole passes until --seconds have elapsed; a traced
        # run alternates traced and untraced passes, traced first
        meter = HostMeter(jvm_pid)
        meter.start()
        walls, traced_walls = [], []
        t_region = time.perf_counter()
        while not walls or time.perf_counter() - t_region < args.seconds or (
            args.trace and not traced_walls
        ):
            traced = bool(args.trace) and len(traced_walls) <= len(walls)
            wall = runner.run_pass(record=True, traced=traced)
            (traced_walls if traced else walls).append(wall)
        host_meters = meter.stop()
        host_meters["jvm.jit_s"] = median(runner.pass_jit)
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        heap_mb = live_heap_mb(spark) if args.trace else None
        spark.stop()
        spark = None
        family = family_metrics(runner, ctx, walls)
        if args.trace:
            from perfbench.layers import layer_metrics

            metrics, problems = layer_metrics(
                tracer.spans, runner, family, log_dir, walls, traced_walls,
                {**host_meters, "jvm.rss_peak_mb": rss_mb,
                 "jvm.heap_live_mb": heap_mb},
                (RECONCILE_TOL, RECONCILE_SLACK_S),
            )
            runner.failures.extend(f"trace: {p}" for p in problems)
            metrics["run.fail_ratio"]["value"] = (
                len(runner.failures) / max(1, runner.attempted)
            )
            _write_spans(tracer.spans, args)
        else:
            metrics = end_to_end(runner, setup_s)
    except Exception:
        _log(f"run aborted\n{traceback.format_exc()}")
        return 1
    finally:
        if spark is not None:
            with contextlib.suppress(Exception):
                spark.stop()
        pyspark = sys.modules.get("pyspark")
        stop_processes(pyspark and pyspark.SparkContext._gateway)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))  # only when no other run uses it

    leaked = tree_bytes(scaling_dir) - scaling_before
    if leaked > 0:
        runner.failures.append(f".scaling/ grew by {leaked} bytes")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "data": args.data,
        "host": host, "host_meters": host_meters, "rss_peak_mb": rss_mb,
        "warmup_pass_s": warmup,
        # CPU-s of the JIT compiler threads in every pass, in run order
        "jit_s": runner.jit_history,
        "pass_s": walls, "traced_pass_s": traced_walls,
        "op_samples": len(runner.samples),
        "op_median_s": _op_medians(runner.samples),
        "checked_op_s": _op_medians(runner.check_samples),
        "family": {k: v for k, (v, _u) in family.items()},
        "failures": runner.failures,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }))
    return 0


def _spark_conf(host: dict, run_dir: str, log_dir: str, trace: int) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # C1 only, a departure from the engine's JVM flags (README.md,
        # "Warm-up and the JIT"): with the default tiered C2 compiler the
        # JIT used more CPU than the engine in every pass a run can afford,
        # and a run took 62-93 s. The code cache is sized as for the
        # default tiered JVM; C1's own 48 MB default fills up in a traced
        # run and switches the JIT off.
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={run_dir} -XX:TieredStopAtLevel=1"
            " -XX:ReservedCodeCacheSize=240m"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
            # span job counts are read after each pass: keep every job
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def _write_spans(spans: list[dict], args) -> None:
    path = os.path.join(
        ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.json"
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(spans, fh)


def _patch_layers(tracer) -> None:
    """Trace calls into layers the workloads reach only indirectly:
    ``sources.tables.load_tables`` from the query builders and every public
    ``ProvDataFrame`` method (the provenance wrapper)."""
    import samba_spark.queries.declared as declared
    import samba_spark.queries.extensions as extensions
    import samba_spark.queries.extras as extras
    import samba_spark.queries.tpch as tpch
    import samba_spark.prov  # noqa: F401 — imports before wrapper (import cycle)
    import samba_spark.sources.tables as tables
    from samba_spark.operators.wrapper import ProvDataFrame

    traced = tracer.wrap("sources.load", tables.load_tables)
    for mod in (tables, declared, extensions, extras, tpch):
        if hasattr(mod, "load_tables"):
            mod.load_tables = traced
    for name, attr in list(vars(ProvDataFrame).items()):
        if callable(attr) and not name.startswith("_"):
            setattr(ProvDataFrame, name, tracer.wrap("wrapper.call", attr))


def _by_op(samples) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for name, took in samples:
        out.setdefault(name, []).append(took)
    return out


def _op_medians(samples) -> dict[str, float]:
    return {k: median(v) for k, v in sorted(_by_op(samples).items())}


def end_to_end(runner, setup_s) -> dict:
    values = {"setup_s": setup_s, "cpu_s": median(runner.pass_cpu)}
    return {k: {"value": v, "unit": "s"} for k, v in values.items()}


def family_metrics(runner, ctx, walls) -> dict:
    """Provenance and store figures of the untraced timed passes; 0 where
    the workload does not exercise the layer."""
    by_op = _by_op(runner.samples)

    def ratio(kind):
        on = by_op.get(f"prov.{kind}_on", [])
        off = by_op.get(f"prov.{kind}_off", [])
        return median([a / b for a, b in zip(on, off)])

    def bytes_per(samples):
        return median([b / n for b, n in samples if n])

    lineage = [
        t for name, ts in by_op.items() if name.startswith("prov_queries.")
        for t in ts
    ]
    stores = ctx.store_samples  # (store kind, bytes, live rows)
    ops = [took for _name, took in runner.samples]
    return {
        "run.wall_s": (median(walls), "s"),
        "ops.geomean_s": (math.exp(
            statistics.fmean(math.log(median(v)) for v in by_op.values())
        ) if by_op else 0.0, "s"),
        "ops.p50_s": (median(ops), "s"),
        "ops.p90_s": (percentile(ops, 0.9), "s"),
        "prov.task_overhead": (ratio("task"), "ratio"),
        "prov.element_overhead": (ratio("element"), "ratio"),
        "prov.bytes_per_element": (bytes_per(ctx.prov_capture), "B"),
        "prov.lineage_p50_s": (median(lineage), "s"),
        "prov_store.bytes": (median([b for b, _n in ctx.prov_capture]), "B"),
        "artifacts.bytes": (median(ctx.artifact_bytes), "B"),
        "store.bytes_per_row": (
            sum(b for _k, b, _n in stores) / sum(n for _k, _b, n in stores)
            if stores else 0.0, "B"),
        "dedup.index_bytes": (
            median([b for k, b, _n in stores if k == "dedup"]), "B"),
        "run.fail_ratio": (len(runner.failures) / max(1, runner.attempted), "ratio"),
    }


if __name__ == "__main__":
    sys.exit(main())
