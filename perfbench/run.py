"""Closed-loop benchmark of the gpu_database_spark engine.

    python3 perfbench/run.py --workload loops --seed 1 --seconds 10 --trace 0

Run it from the repository root. One client in one process drives one
workload on a ``local[k]`` session (k = min(4, cores)); each item
starts after the previous one has finished. The run

1. writes its parquet inputs from ``--seed`` (``inputs.py``);
2. sets up the engine ``N_SETUPS`` times (session start, per-session
   preparation, one warm-up item) and reports the median as
   ``setup_s``. Only the first set-up launches the JVM; the cold path,
   process start to the first timed item, is the per-layer
   ``setup.first_item_s``;
3. runs whole passes over the workload's items until ``--seconds``
   have passed;
4. checks every item's output (``workloads.py``) and counts
   exceptions, time-outs and wrong outputs as failed items;
5. prints a record line, then the result as the last line:
   ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
   reports the end-to-end metrics, ``--trace 1`` the per-layer ones,
   taken from spans around each layer call (``spans.py``).

Everything it writes stays under ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from spans import JobCounter, Tracer, calls, self_times  # noqa: E402
from workloads import LOOP_QUERIES, WORKLOADS, YCSB_ITEM, Outcome  # noqa: E402

SF = 0.01
N_SETUPS = 3
ITEM_CAP_S = 60.0  # per-item wall-clock cap, enforced by cancelling the job group
DRIVER_MEM = "2g"
MAX_CORES = 4
# Engine switches pinned to their defaults, so every run measures one configuration.
PINNED_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_MATERIALIZE", "SPARK_GRAFT_SF_DIR")

END_TO_END_UNITS = {
    "latency_p50_s": "s",
    "pass_s": "s",
    "txn_per_s": "1/s",
    "setup_s": "s",
}
ITEM_NAMES = LOOP_QUERIES + (YCSB_ITEM,)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "setup.first_item_s": "s",
    "sources.scan_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "exec.collect_s": "s",
    "exec.collect_jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "functions.materialize.calls": "count",
    "functions.materialize.s": "s",
    "functions.release_all.blocks": "count",
    "gen.transactions_s": "s",
    "aria.run_batch_s": "s",
    "aria.install_s": "s",
    "aria.epochs": "count",
    "aria.jobs_per_batch": "count",
    "aria.commits_per_execution": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    **{f"{n}.s": "s" for n in ITEM_NAMES},
    **{f"{n}.jobs": "count" for n in ITEM_NAMES},
}


class Context:
    """Runs items one at a time: job groups, the time cap, spans, counts."""

    def __init__(self, spark, tracer: Tracer, run_id: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.run_id = run_id
        self.seq = 0
        self.counter = JobCounter(spark) if tracer.enabled else None
        self._groups: dict[str, str] = {}
        self._group = ""

    @contextlib.contextmanager
    def phase(self, kind: str, span: str | None = None):
        """Run the body under its own job group (and span, when named)."""
        self._group = f"{self.run_id}-{self.seq}-{kind}"
        self._groups[kind] = self._group
        self.spark.sparkContext.setJobGroup(self._group, self._group, interruptOnCancel=True)
        with self.tracer.span(span) if span else contextlib.nullcontext():
            yield

    def _watchdog(self, done: threading.Event) -> None:
        # Loop operators start new jobs after a cancel, so keep cancelling.
        if not done.wait(ITEM_CAP_S):
            while True:
                self.spark.sparkContext.cancelJobGroup(self._group)
                if done.wait(2.0):
                    return

    def execute(self, workload, name: str, args: tuple = ()) -> Outcome:
        from gpu_database_spark.functions import materialize

        self.seq += 1
        self._groups = {}
        mark = len(self.tracer.spans)
        self.tracer.item = f"{name}#{self.seq}"
        done = threading.Event()
        dog = threading.Thread(target=self._watchdog, args=(done,), daemon=True)
        dog.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("item", label=name):
                out = workload.run(self, name, *args)
            out.latency_s = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - any failure is a failed item
            out = Outcome(name, self.seq, latency_s=time.perf_counter() - t0)
            out.error = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            done.set()
            dog.join()
            self.spark.sparkContext.setJobGroup(f"{self.run_id}-idle", "idle")
        if out.error is None and out.latency_s > ITEM_CAP_S:
            out.error = f"exceeded the {ITEM_CAP_S:.0f} s cap"
        materialize.release_all(self.spark)
        self.tracer.item = None
        out.groups = dict(self._groups)
        out.spans = self.tracer.spans[mark:]
        if self.counter is not None:
            t = time.perf_counter()
            out.jobs = {k: len(self.counter.jobs(g)) for k, g in out.groups.items()}
            if "exec" in out.groups:
                out.exec_detail = self.counter.detail(out.groups["exec"])
            self.tracer.overhead_s += time.perf_counter() - t
        return out


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(latencies: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it
    (nearest-rank), its value and the sample count; no percentile has
    ten samples beyond it when there are ten samples or fewer."""
    n = len(latencies)
    if n <= 10:
        return {"percentile": None, "value_s": None, "samples": n}
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p * n / 100))
    return {"percentile": p, "value_s": sorted(latencies)[rank - 1], "samples": n}


def host_facts(cores: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "driver_memory": DRIVER_MEM,
        "loadavg_at_start": list(os.getloadavg()),
        "python": sys.version.split()[0],
    }


def stop_engine(spark) -> None:
    """Stop the session and the driver JVM, and wait until the JVM has
    exited. Its Python workers exit with it (perfbench/README.md)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def scan_probe(spark, inputs_dir: str) -> float:
    """Seconds to scan every TPC-H table through ``load_table`` into a noop sink."""
    from gpu_database_spark.sources import catalog

    total = 0.0
    for t in inputs.TPCH_TABLES:
        t0 = time.perf_counter()
        catalog.load_table(spark, inputs_dir, t).write.format("noop").mode("overwrite").save()
        total += time.perf_counter() - t0
    return total


def run_timed(ctx: Context, wl, t0: float, seconds: float,
              n_passes: int | None) -> tuple[list[Outcome], list[float]]:
    """Run whole passes until ``seconds`` have passed since ``t0`` (or
    exactly ``n_passes`` passes). Returns the timed items and the summed
    item latency of each pass."""
    timed: list[Outcome] = []
    passes: list[float] = []
    while (len(passes) < n_passes if n_passes is not None
           else not passes or time.perf_counter() - t0 < seconds):
        this_pass = [ctx.execute(wl, name, args) for name, args in wl.pass_items()]
        timed += this_pass
        passes.append(sum(o.latency_s for o in this_pass))
    return timed, passes


def per_layer(timed: list[Outcome], passes: list[float], replays: list[dict],
              start_s: list[float], first_item_s: float, scan_s: float,
              overhead_s: float) -> dict[str, float]:
    n_pass = len(passes)
    spans = [s for o in timed for s in o.spans]
    st = self_times(spans)
    ok = [o for o in timed if o.error is None]
    jobs = lambda kind: sum(o.jobs.get(kind, 0) for o in ok)  # noqa: E731
    exec_detail = lambda key: sum(o.exec_detail.get(key, 0) for o in ok)  # noqa: E731
    batch_items = [o for o in ok if calls(o.spans, "aria.run_batch")]
    runs = calls(spans, "aria.run_batch")
    m = {
        "session.start_s": statistics.median(start_s),
        "session.cold_start_s": start_s[0],
        "setup.first_item_s": first_item_s,
        "sources.scan_s": scan_s,
        "registry.build_s": st["registry.build"] / n_pass,
        "registry.build_jobs": jobs("build") / n_pass,
        "exec.collect_s": (st["exec.collect"] + st["aria.install"]) / n_pass,
        "exec.collect_jobs": jobs("exec") / n_pass,
        "exec.stages": exec_detail("stages") / n_pass,
        "exec.tasks": exec_detail("tasks") / n_pass,
        "exec.shuffle_write_bytes": exec_detail("shuffle_write_bytes") / n_pass,
        "functions.materialize.calls": len(calls(spans, "functions.materialize")) / n_pass,
        "functions.materialize.s": st["functions.materialize"] / n_pass,
        "functions.release_all.blocks": sum(s["result"] for s in calls(spans, "functions.release_all")) / n_pass,
        "gen.transactions_s": st["gen.transactions"] / n_pass,
        "aria.run_batch_s": st["aria.run_batch"] / n_pass,
        "aria.install_s": sum(
            s["end"] - s["start"] for o in batch_items for s in o.spans
            if s["name"] in ("exec.collect", "aria.install")
        ) / n_pass,
        "aria.epochs": statistics.mean(s["result"]["epochs"] for s in runs) if runs else 0.0,
        "aria.jobs_per_batch": statistics.mean(sum(o.jobs.values()) for o in batch_items) if batch_items else 0.0,
        "aria.commits_per_execution": (
            sum(r["committed"] for r in replays) / sum(r["executions"] for r in replays) if replays else 0.0
        ),
        "trace.pass_s": statistics.median(passes),
        "trace.overhead_s": overhead_s / n_pass,
    }
    for name in ITEM_NAMES:
        mine = [o for o in ok if o.name == name]
        m[f"{name}.s"] = statistics.median(o.latency_s for o in mine) if mine else 0.0
        m[f"{name}.jobs"] = sum(mine[0].jobs.values()) if mine else 0
    return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the parquet inputs")
    ap.add_argument("--passes", type=int, default=None,
                    help="run exactly this many timed passes instead of --seconds")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    traced = bool(args.trace)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    facts = host_facts(cores)
    try:
        import gpu_database_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(OUT, run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in PINNED_ENV:
        os.environ.pop(k, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # -XX:-UsePerfData: neither JVM writes hsperfdata files to /tmp.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    })
    spark = None
    try:
        tracer = Tracer(traced)
        if traced:
            tracer.install()  # before any query module binds the layer functions
        from gpu_database_spark import session

        t0 = time.perf_counter()
        inputs_dir = os.path.join(work, "inputs")
        rows = inputs.write_tables(inputs_dir, args.seed, args.sf)
        inputs_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](inputs_dir, args.seed)
        bad: list[str] = []  # outputs that failed their check
        outcomes: list[Outcome] = []

        setup_s, start_s = [], []
        check_s = 0.0  # checking the warm-up outputs: the benchmark's work, not set-up
        for _ in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark(app_name="perfbench", shuffle_partitions=cores)
            start_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            wl.prepare(spark)
            ctx = Context(spark, tracer, f"{run_id}-{len(setup_s)}")
            warm = ctx.execute(wl, *wl.warm_item())
            setup_s.append(time.perf_counter() - t0)
            outcomes.append(warm)
            t0 = time.perf_counter()
            bad += wl.check([warm]).values()
            check_s += time.perf_counter() - t0
        facts["driver_heap_mb"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20

        first_item_s = time.perf_counter() - T_START - check_s

        overhead0 = tracer.overhead_s
        t_timed = time.perf_counter()
        timed, passes = run_timed(ctx, wl, t_timed, args.seconds, args.passes)
        wall_s = time.perf_counter() - t_timed
        overhead_s = tracer.overhead_s - overhead0

        outcomes += timed
        bad += wl.check(timed).values()
        scan_s = scan_probe(spark, inputs_dir) if traced else 0.0
        peak_rss = _vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_mb("self")

        failed = sum(1 for o in outcomes if o.error is not None) + len(bad)
        ok = [o for o in timed if o.error is None]
        lat = [o.latency_s for o in timed]
        e2e = {
            "latency_p50_s": statistics.median(lat),
            "pass_s": statistics.median(passes),
            "txn_per_s": sum(o.committed for o in ok) / wall_s,
            "setup_s": statistics.median(setup_s),
        }
        if traced:
            values = per_layer(timed, passes, wl.replays(ok), start_s, first_item_s,
                               scan_s, overhead_s)
            units = PER_LAYER_UNITS
            trace_file = os.path.join(OUT, f"trace-{run_id}.json")
            tracer.dump(trace_file)
        else:
            values, units, trace_file = e2e, END_TO_END_UNITS, None
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "sf": args.sf,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": facts,
            "input_rows": rows,
            "inputs_s": inputs_s,
            "setup_s_each": setup_s,
            "session_start_s_each": start_s,
            "first_item_s": first_item_s,
            "warm_check_s": check_s,
            "timed_wall_s": wall_s,
            "timed_items": [[o.name, o.latency_s, o.error] for o in timed],
            "pass_s_each": passes,
            "latency_tail": tail(lat),
            "end_to_end": e2e,
            "peak_rss_mb": peak_rss,
            "fail_ratio": failed / len(outcomes),
            "errors": [o.error for o in outcomes if o.error] + bad,
            "trace_file": trace_file,
        }
        if args.workload == "aria_ycsb":
            record["batch_seeds"] = [o.output[0] for o in outcomes if o.output]
        if traced:
            record["jobs_each"] = {
                n: [sum(o.jobs.values()) for o in ok if o.name == n] for n in ITEM_NAMES
            }
        print(json.dumps({"record": record}), flush=True)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(outcomes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }), flush=True)
        return 0
    finally:
        stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
