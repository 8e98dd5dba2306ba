"""dbqt_spark benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload dq_suite --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``perfbench/tmp/``, starts a ``local[N]`` session
(N = min(4, cores)), and then:

1. set-up (``setup_s``), timed from process start with input generation
   excluded: interpreter and imports, JVM and session up, inputs
   registered, engine warm-up done;
2. the first pass on that fresh session (``first_pass_s``);
3. ``WARMUP`` warm-up passes;
4. timed passes for ``--seconds`` (at least ``MIN_TIMED``); the run
   reports their trend (second-half over first-half median, minus one);
5. outside the timed window: every output of every pass is checked
   against DuckDB (``oracle.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
flow with spans and Spark counters on for the set-up, the first pass and
half of the timed passes (traced and untraced alternate, in the order
TU UT TU ...). It prints the per-layer metrics (medians over the traced
warm passes) and ``trace.overhead_frac`` (traced over untraced median
pass time, minus one). Each run also writes its full record, spans
included, to ``perfbench/out/``. The last line of stdout is the result
JSON.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARMUP = 1
MIN_TIMED = 2
DRIVER_MEM = "1g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _hygiene(work: str, cpus: int) -> dict:
    """Environment and Spark conf that keep every file the run writes
    under ``work`` and let Python workers import the package."""
    for d in ("local", "jtmp", "warehouse", "py"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The engine's default driver heap (16g) is sized for large hosts. On
    # a host with 16 GB of RAM or less it cannot be held, and on these
    # inputs G1 grows a 16g heap lazily to ~5 GB RSS, so peak_rss_mb
    # would measure heap-sizing policy rather than the engine. Cap it.
    os.environ["DBQT_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "py")
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    jtmp = os.path.join(work, "jtmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.hadoop.hadoop.tmp.dir": jtmp,
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp}"
        ),
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least 10
    samples beyond it (the maximum when there are 10 or fewer)."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def _trend(times: list[float]) -> float:
    """Second-half over first-half median pass time, minus one."""
    h = len(times) // 2
    if h == 0:
        return 0.0
    return statistics.median(times[-h:]) / statistics.median(times[:h]) - 1


class Runner:
    """Runs one workload's passes on one session, recording op latencies
    and outputs."""

    def __init__(self, workload, tracer, conf):
        self.w, self.t, self.conf = workload, tracer, conf
        self.spark = None
        self.ops: list[dict] = []  # every op of every pass

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from dbqt_spark.session import get_spark

        self.t.pass_no = -1  # set-up spans belong to no pass
        with self.t.call("session", "get_spark"):
            self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        self.t.bind(self.spark)
        self.w.register(self.spark)
        # engine warm-up: one small shuffle query
        self.spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def run_pass(self, pass_no: int, kind: str, traced: bool) -> float:
        self.t.pass_no, self.t.enabled = pass_no, traced

        def record(name, fn):
            with self.t.op(name):
                t0 = time.perf_counter()
                try:
                    out, err = fn(), None
                except Exception:  # an op failure is data, not a crash
                    out, err = None, traceback.format_exc()
                lat = time.perf_counter() - t0
            self.ops.append({"pass": pass_no, "kind": kind, "name": name,
                             "latency_s": lat, "output": out, "error": err})
            return out

        t0 = time.perf_counter()
        self.w.run_pass(self.spark, record)
        wall = time.perf_counter() - t0
        self.t.enabled = False
        mine = [op for op in self.ops if op["pass"] == pass_no]
        print(f"pass {pass_no} {kind} {wall:.3f}s " + " ".join(
            f"{op['name']}={op['latency_s']:.2f}" for op in mine), file=sys.stderr)
        return wall


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None


def _stop_jvm() -> None:
    """Shut the gateway JVM down and wait for it (its Python workers exit
    with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _per_layer(tracer, traced_passes, extras: dict) -> dict:
    """Per-layer metrics: medians over the traced warm passes of each
    layer's counter sums, plus the workload's extra layer ratios."""
    from spans import COUNTERS, SPARK_LAYERS, UNITS
    from workloads import EXTRA_METRICS

    totals = [tracer.layer_totals(p) for p in traced_passes]

    def med(layer, counter):
        return statistics.median(t.get(layer, {}).get(counter, 0) for t in totals)

    metrics = {
        f"{layer}.{c}": {"value": med(layer, c), "unit": UNITS[c]}
        for layer in SPARK_LAYERS for c in COUNTERS
    }
    session = [s.counters["busy_s"] for s in tracer.spans if s.layer == "session"]
    metrics["session.busy_s"] = {"value": statistics.median(session), "unit": "s"}
    metrics["report.busy_s"] = {"value": med("report", "busy_s"), "unit": "s"}
    for name, unit in EXTRA_METRICS.items():
        metrics[name] = {"value": extras.get(name, 0.0), "unit": unit}
    return metrics


def main(argv=None) -> int:
    args = _parse(argv)
    # SIGTERM unwinds through the cleanup in ``finally`` (JVM, temp dirs)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "dbqt_spark")):
        print("dbqt_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    cpus = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, "tmp", f"run-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    conf = _hygiene(work, cpus)
    sys.path.insert(1, ROOT)

    import gen
    from spans import Tracer, counter_repeat
    from workloads import WORKLOADS

    try:
        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        layout = gen.GENERATORS[args.workload](args.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0

        tracer = Tracer()
        tracer.enabled = bool(args.trace)
        w = WORKLOADS[args.workload](layout, work, tracer)
        r = Runner(w, tracer, conf)
        r.setup()
        setup = time.perf_counter() - PROCESS_START - gen_s
        jvm = _jvm_pid()

        first = r.run_pass(0, "first", traced=bool(args.trace))
        tracer.enabled = False

        # warm-up: a fixed number of passes, so every run times the same
        # passes of the cold-to-warm curve; the timed window's residual
        # trend is reported with the result
        warm: list[float] = []
        for pass_no in range(1, WARMUP + 1):
            warm.append(r.run_pass(pass_no, "warmup", traced=False))

        timed: list[float] = []
        traced_walls: list[float] = []
        traced_passes: list[int] = []
        window = time.perf_counter()
        while True:
            pass_no += 1
            k = len(timed) + len(traced_walls)
            done = time.perf_counter() - window >= args.seconds
            enough = len(timed) >= MIN_TIMED and (not args.trace or k % 4 == 0)
            if done and enough:
                break
            # traced runs alternate in pairs TU UT TU ..., so the falling
            # warm-up curve favours neither side of trace.overhead_frac
            traced = bool(args.trace) and (k % 2 == 0) == (k // 2 % 2 == 0)
            wall = r.run_pass(pass_no, "timed", traced=traced)
            (traced_walls if traced else timed).append(wall)
            if traced:
                traced_passes.append(pass_no)

        extras = {}
        if args.trace:
            extras = w.layer_extras(r.spark)
            extras["trace.overhead_frac"] = (
                statistics.median(traced_walls) / statistics.median(timed) - 1
            )
        peak_rss = _vm_hwm_mb(os.getpid()) + (_vm_hwm_mb(jvm) if jvm else 0.0)
        r.stop()
        _stop_jvm()

        # output checks, outside every timed window
        t0 = time.perf_counter()
        expected = w.expect()
        failed_ops = []
        for op in r.ops:
            if op["error"] is not None or not w.check(op["name"], op["output"], expected):
                failed_ops.append(op)
        check_s = time.perf_counter() - t0
        by_name: dict[str, list] = {}
        for op in r.ops:
            if op["output"] is not None:
                by_name.setdefault(op["name"], []).append(op["output"])
        recall = w.recall(by_name, expected)

        timed_ops = [op for op in r.ops if op["kind"] == "timed" and op["pass"] not in traced_passes]
        lat = [op["latency_s"] for op in timed_ops]
        tail, tail_pct, n_lat = _tail(lat)
        metrics = {
            "setup_s": {"value": setup, "unit": "s"},
            "first_pass_s": {"value": first, "unit": "s"},
            "pass_s": {"value": statistics.median(timed), "unit": "s"},
            "query_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "queries_per_s": {"value": len(lat) / sum(timed), "unit": "1/s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
        if args.trace:
            metrics = _per_layer(tracer, traced_passes, extras)

        attempted = len(r.ops)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "input_rows": layout["rows"],
            "gen_s": gen_s, "setup_s": setup, "first_pass_s": first,
            "warmup_passes_s": warm, "timed_passes_s": timed,
            "traced_passes_s": traced_walls, "trend": _trend(timed),
            "query_tail": {"value_s": tail, "percentile": tail_pct, "samples": n_lat},
            "failed_frac": len(failed_ops) / attempted, "recall": recall,
            "check_s": check_s,
            "failures": [{k: op[k] for k in ("pass", "name", "error")} for op in failed_ops[:20]],
            "cold_layers": tracer.layer_totals(0) if args.trace else {},
            "warm_layers": {p: tracer.layer_totals(p) for p in traced_passes},
            "counter_repeat": counter_repeat([tracer.layer_totals(p) for p in traced_passes]),
            "spans": tracer.dump(),
            "metrics": metrics,
        }
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(record, f, default=str)
        print(json.dumps({
            "gen_s": round(gen_s, 3), "setup_s": round(setup, 3),
            "warmup_passes_s": [round(x, 3) for x in warm],
            "timed_passes_s": [round(x, 3) for x in timed],
            "traced_passes_s": [round(x, 3) for x in traced_walls],
            "trend": round(record["trend"], 4),
            "query_tail": record["query_tail"], "failed_frac": record["failed_frac"],
            "recall": recall, "check_s": round(check_s, 3),
        }))
        for op in failed_ops[:5]:
            print(f"FAILED {op['name']} (pass {op['pass']}): {(op['error'] or 'wrong output').strip().splitlines()[-1]}")
        print(json.dumps({
            "correct": not failed_ops, "attempted": attempted,
            "failed": len(failed_ops), "metrics": metrics,
        }))
        return 0
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
