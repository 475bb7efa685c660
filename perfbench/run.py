#!/usr/bin/env python3
"""ArrowHouse benchmark: one workload, one fresh process, one closed-loop client.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

The run sets up a SparkSession on ``local[<cores>]`` twice and reports the
median set-up. It then runs the workload's queries one at a time, each as
its registered suite function plus a ``noop`` write (as ``bench.py`` does):
one cold pass, an untimed oracle check of every query against DuckDB, and
warm passes until ``--seconds`` have passed, and at least the workload's
minimum number. ``--seed`` sets the query order of every pass.

With ``--trace 0`` the last line of output is the JSON result with the
end-to-end metrics. With ``--trace 1`` Spark's event log is on, the warm
passes alternate between untraced and traced, and the JSON carries the
per-layer metrics of the traced passes. Either way the full result, with
per-query ledgers, sample counts and the dataset fingerprint, is written to
``perfbench/results/``, and a traced run also writes its spans there.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import dataset  # noqa: E402
import eventlog  # noqa: E402
import proctree  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RESULTS_DIR = os.path.join(HERE, "results")
SETUPS = 2
# A fixed 2 GB heap (-Xms = -Xmx) is touched in full by every run, so the
# tree's peak RSS repeats. A heap left to grow, as with the default 8 GB,
# reached a size that depended on GC timing, and peak RSS spread by 20-40%.
DRIVER_MEM = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


@dataclass
class Execution:
    query: str
    pass_no: int
    traced: bool
    start: float
    built: float
    end: float
    ok: bool
    cpu: dict[str, float] = field(default_factory=dict)
    cache: dict[str, int] = field(default_factory=dict)

    @property
    def key(self) -> str:
        return f"{self.pass_no}:{self.query}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results-dir", default=RESULTS_DIR)
    args = ap.parse_args(argv)
    args.results_dir = os.path.abspath(args.results_dir)
    return args


def check_checkout() -> None:
    needed = ("arrowhouse_spark/__init__.py", "tools/gen_sf.py", "tools/check_correctness.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(
            f"perfbench: not an ArrowHouse checkout ({ROOT}); missing: "
            + ", ".join(missing),
            file=sys.stderr,
        )
        sys.exit(2)


def prepare_env(work: str) -> dict[str, str]:
    """Point every temporary path of the driver, the JVM and the workers
    into ``work`` and size Spark to this machine's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        # every JVM, the dataset generator's and spark-submit's launcher
        # included; -UsePerfData keeps the JVM out of /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return dict(os.environ)


def warm_up(spark, data_dir: str, cpus: int) -> None:
    """Session warm-up, as ``bench.py`` does: a first parquet read, and a
    mapInPandas stage that starts a Python worker on every core."""
    spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")).limit(1).count()

    def _warm(batches):
        import numpy  # noqa: F401, PLC0415

        yield from batches

    spark.range(4 * cpus).repartition(4 * cpus).mapInPandas(
        _warm, "id long"
    ).write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.names = list(self.wl.queries)
        self.data_dir = dataset.FIXTURE_DIR if self.wl.data == "fixture" else dataset.GEN_DIR
        self.rng = random.Random(args.seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.root_pid = os.getpid()
        self.spark = None
        self.queries: dict = {}
        self.tracer = None
        self.executions: list[Execution] = []
        self.passes: list[dict] = []
        # cold-pass results, kept for the oracle check; None where it raised
        self.cold_frames: dict = {}

    def order(self) -> list[str]:
        o = list(self.names)
        self.rng.shuffle(o)
        return o

    # -- set-up --------------------------------------------------------------
    def setup(self) -> list[float]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        }
        if self.args.trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.log_dir,
                }
            )
        times = []
        for i in range(SETUPS):
            t0 = time.time()
            from arrowhouse_spark import suite  # noqa: PLC0415
            from arrowhouse_spark.session import get_spark  # noqa: PLC0415

            self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=conf)
            warm_up(self.spark, self.data_dir, self.cpus)
            times.append(time.time() - t0)
            if i < SETUPS - 1:
                self.spark.stop()
        self.queries = suite.queries()
        return times

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    # -- timed executions ----------------------------------------------------
    def execute(self, name: str, pass_no: int, traced: bool) -> Execution:
        fn = self.queries[name]
        tr = self.tracer
        if traced:
            tr.enabled, tr.query = True, f"{pass_no}:{name}"
            cache0 = dict(tr.cache)
            cpu0 = proctree.snapshot(self.root_pid)
        ok, df = True, None
        t0 = built = time.time()
        try:
            if traced:
                # each phase span is the parent of spans opened in pool threads
                with tr.span("suite.build", "suite") as tr.phase_span:
                    df = fn(self.spark, self.data_dir)
                built = time.time()
                tr.phase_span = None
                with tr.span("suite.action", "suite") as tr.phase_span:
                    df.write.format("noop").mode("overwrite").save()
            else:
                df = fn(self.spark, self.data_dir)
                built = time.time()
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — counted in failed_frac
            ok = False
            print(f"perfbench: {name} raised: {e!r}"[:500], file=sys.stderr)
        t1 = time.time()
        ex = Execution(name, pass_no, traced, t0, built, t1, ok)
        if traced:
            ex.cpu = proctree.snapshot(self.root_pid).minus(cpu0)
            ex.cache = {k: tr.cache[k] - cache0[k] for k in tr.cache}
            tr.enabled, tr.query, tr.phase_span = False, None, None
        if pass_no == 0:
            self.cold_frames[name] = df if ok else None
        # drop references to finished plans outside the timed span, as
        # bench.py does, so the JVM can reap checkpoint blocks
        del df
        gc.collect()
        self.executions.append(ex)
        return ex

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        cpu0 = proctree.snapshot(self.root_pid)
        ex = [self.execute(n, pass_no, traced) for n in self.order()]
        cpu = proctree.snapshot(self.root_pid).minus(cpu0)
        p = {
            "pass": pass_no,
            "traced": traced,
            "wall_s": sum(e.wall_s for e in ex),
            "cpu_s": cpu["total"],
            "cpu": cpu,
            "failed": sum(not e.ok for e in ex),
        }
        self.passes.append(p)
        return p

    # -- the run -------------------------------------------------------------
    def run(self) -> dict:
        import oracle  # noqa: PLC0415

        setups = self.setup()
        if self.args.trace:
            from tracer import Tracer  # noqa: PLC0415

            self.tracer = Tracer()
            self.tracer.install()
        with proctree.RssSampler(self.root_pid) as rss:
            cold = self.run_pass(0, traced=bool(self.args.trace))
            t0 = time.time()
            problems = oracle.check(ROOT, self.data_dir, self.cold_frames, self.work)
            self.cold_frames.clear()
            gc.collect()
            verify_s = time.time() - t0
            t0 = time.time()
            k = 0
            while k < self.wl.min_passes or time.time() - t0 < self.args.seconds:
                k += 1
                self.run_pass(k, traced=bool(self.args.trace) and k % 2 == 0)
            from arrowhouse_spark import suite  # noqa: PLC0415
            from arrowhouse_spark.operators import dedup  # noqa: PLC0415

            dedup.release_caches()
            suite.release_rel_caches()
            app_id = self.spark.sparkContext.applicationId
        self.close()
        result = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "seconds": self.args.seconds,
            "cores": self.cpus,
            "queries": self.names,
            "setups_s": setups,
            "cold_pass": cold,
            "passes": self.passes,
            "executions": [
                {"pass": e.pass_no, "query": e.query, "wall_s": e.wall_s, "ok": e.ok}
                for e in self.executions
            ],
            "verify_s": verify_s,
            "oracle": problems,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        result["e2e"] = self.e2e(result)
        if self.args.trace:
            result.update(self.ledger(app_id))
        return result

    def e2e(self, result: dict) -> dict:
        warm = [p for p in self.passes if p["pass"] > 0 and not p["traced"]]
        lat = [
            e.wall_s
            for e in self.executions
            if e.pass_no > 0 and not e.traced and e.ok
        ]
        # the tail percentile is fixed by the fewest warm executions a run
        # can have, so that runs with more passes report the same percentile
        pct = stats.tail_percentile(self.wl.min_passes * len(self.names))
        tail = stats.percentile(lat, pct)
        timed = self.executions
        m = {
            "setup_s": (stats.median(result["setups_s"]), len(result["setups_s"])),
            "cold_pass_s": (result["cold_pass"]["wall_s"], 1),
            "pass_s": (stats.median([p["wall_s"] for p in warm]), len(warm)),
            "query_p50_s": (stats.median(lat), len(lat)),
            "query_tail_s": (tail, len(lat)),
            "cpu_s": (stats.median([p["cpu_s"] for p in warm]), len(warm)),
            "peak_rss_mb": (result["peak_rss_mb"], 1),
        }
        out = {k: {"value": v, "unit": E2E_UNITS[k], "n": n} for k, (v, n) in m.items()}
        out["query_tail_s"]["percentile"] = pct
        out["failed_frac"] = {
            "value": sum(not e.ok for e in timed) / len(timed),
            "unit": "ratio",
            "n": len(timed),
        }
        out["oracle_mismatches"] = {
            "value": sum(v["problem"] is not None for v in result["oracle"].values()),
            "unit": "count",
            "n": len(result["oracle"]),
        }
        return out

    # -- per-layer ledger (traced runs) --------------------------------------
    def ledger(self, app_id: str) -> dict:
        from tracer import FUNCTION_LAYERS, LAYERS, layer_times  # noqa: PLC0415

        traced = [e for e in self.executions if e.traced]
        windows = [eventlog.Window(e.key, e.start, e.end) for e in traced]
        events = eventlog.read_events(eventlog.log_files(self.log_dir, app_id))
        spark_m, _ = eventlog.attribute(events, windows)
        layers = layer_times(self.tracer.spans)

        per_exec: dict[str, dict[str, float]] = {}
        units: dict[str, str] = {"suite.build_s": "s", "suite.action_s": "s"}
        units.update(eventlog.UNITS)
        units.update({f"cpu.{r}_s": "s" for r in ("driver_py", "jvm", "pyworker")})
        for e in traced:
            m = {"suite.build_s": e.built - e.start, "suite.action_s": e.end - e.built}
            m.update(spark_m[e.key])
            m.update({f"cpu.{r}_s": e.cpu[r] for r in ("driver_py", "jvm", "pyworker")})
            m["operators.self_s"] = m["operators.calls"] = 0
            for layer, agg in layers.get(e.key, {}).items():
                if layer == "suite":
                    continue
                m[f"{layer}.self_s"] = agg["self_s"]
                m[f"{layer}.calls"] = agg["calls"]
                if layer.startswith("operators."):
                    m["operators.self_s"] += agg["self_s"]
                    m["operators.calls"] += agg["calls"]
            per_exec[e.key] = m
        for layer in ("operators", *LAYERS, *FUNCTION_LAYERS):
            units[f"{layer}.self_s"] = "s"
            units[f"{layer}.calls"] = "count"

        def total(execs: list[Execution], name: str) -> float:
            vals = [per_exec[e.key].get(name, 0) for e in execs]
            return max(vals) if name == "stage.skew_max" else sum(vals)

        warm_passes = sorted({e.pass_no for e in traced if e.pass_no > 0})
        by_pass = {p: [e for e in traced if e.pass_no == p] for p in warm_passes}
        cold = [e for e in traced if e.pass_no == 0]
        workload = {
            name: {"value": stats.median([total(ex, name) for ex in by_pass.values()]), "unit": u}
            for name, u in units.items()
        }
        # caches: the cold pass fills them and the first traced warm pass
        # reads them, so both together show what the cache saved
        counted = cold + by_pass[warm_passes[0]]
        hits = sum(e.cache["hits"] for e in counted)
        misses = sum(e.cache["misses"] for e in counted)
        workload["cache.hits"] = {"value": hits, "unit": "count"}
        workload["cache.misses"] = {"value": misses, "unit": "count"}
        workload["cache.hit_ratio"] = {
            "value": hits / (hits + misses) if hits + misses else 0.0,
            "unit": "ratio",
        }
        workload["cache.evictions"] = {
            "value": sum(e.cache["evictions"] for e in counted),
            "unit": "count",
        }
        # with the fixed 2 GB heap a warm pass of olap often has no GC at
        # all, so GC time is summed over every traced pass, the cold included
        workload["jvm.gc_s"] = {"value": total(traced, "jvm.gc_s"), "unit": "s"}
        # the spans' own cost: traced against untraced passes of this run,
        # both with the event log on (trace.overhead_frac, against a run
        # without the event log, is added in main when that run exists)
        untraced = [p["wall_s"] for p in self.passes if p["pass"] > 0 and not p["traced"]]
        traced_w = [p["wall_s"] for p in self.passes if p["pass"] > 0 and p["traced"]]
        workload["trace.span_overhead_frac"] = {
            "value": stats.median(traced_w) / stats.median(untraced) - 1.0,
            "unit": "ratio",
        }
        queries = {}
        for q in self.names:
            warm_ex = [e for e in traced if e.query == q and e.pass_no > 0]
            cold_ex = [e for e in cold if e.query == q]
            queries[q] = {
                "warm": {n: stats.median([per_exec[e.key].get(n, 0) for e in warm_ex]) for n in units},
                "cold": {n: per_exec[cold_ex[0].key].get(n, 0) for n in units} if cold_ex else {},
                "cache": {k: sum(e.cache[k] for e in counted if e.query == q) for k in ("hits", "misses", "evictions")},
            }
        return {
            "layers": workload,
            "layers_cold": {n: {"value": total(cold, n), "unit": u} for n, u in units.items()},
            "layers_by_query": queries,
        }


def result_stem(args) -> str:
    return f"{args.workload}-s{args.seed}-t{args.trace}"


def add_trace_overhead(result: dict, untraced_path: str) -> None:
    """``trace.overhead_frac``: the median traced warm pass of this run over
    ``pass_s`` of the untraced run of the same workload and seed, minus one.
    Only the untraced run has the event log off, so this is the whole cost of
    tracing. Left out when that run's result file does not exist."""
    try:
        with open(untraced_path) as f:
            untraced = json.load(f)["e2e"]["pass_s"]["value"]
    except (OSError, ValueError, KeyError):
        print(f"perfbench: no untraced result at {untraced_path}; "
              "trace.overhead_frac needs one", file=sys.stderr)
        return
    traced = [p["wall_s"] for p in result["passes"] if p["pass"] > 0 and p["traced"]]
    result["layers"]["trace.overhead_frac"] = {
        "value": stats.median(traced) / untraced - 1.0,
        "unit": "ratio",
    }


def print_report(result: dict) -> None:
    print(f"workload {result['workload']}  seed {result['seed']}  trace {result['trace']}")
    for name, m in result["e2e"].items():
        extra = f"  p{m['percentile']:.0f}" if "percentile" in m else ""
        print(f"  {name:<22} {m['value']:>14.4f} {m['unit']:<6} n={m['n']}{extra}")
    bad = {q: v["problem"] for q, v in result["oracle"].items() if v["problem"]}
    for q, p in bad.items():
        print(f"  oracle mismatch {q}: {p}")
    if result["trace"]:
        for name, m in sorted(result["layers"].items()):
            print(f"  {name:<36} {m['value']:>16.4f} {m['unit']}")


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    check_checkout()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        benchmark = json.load(f)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=result_stem(args) + "-", dir=os.path.join(HERE, ".work"))
    try:
        env = prepare_env(work)
        os.chdir(work)
        try:
            fp, gen_s, built = dataset.ensure(ROOT, env)
        except dataset.DatasetMismatch as e:
            print(f"perfbench: refusing to run: {e}", file=sys.stderr)
            return 3
        runner = Runner(args, work)
        try:
            result = runner.run()
        finally:
            runner.close()
        result.update({"dataset": fp, "gen_s": gen_s, "gen_built_this_run": built})
        os.makedirs(args.results_dir, exist_ok=True)
        stem = os.path.join(args.results_dir, result_stem(args))
        if args.trace:
            add_trace_overhead(result, stem[: -len("t1")] + "t0.json")
        with open(stem + ".json", "w") as f:
            json.dump(result, f, indent=1)
        if args.trace:
            # spans stay in memory until every timed pass is over
            runner.tracer.write(stem + ".spans.jsonl")
        print_report(result)
        wanted = benchmark["per_layer"] if args.trace else benchmark["end_to_end"]
        source = result["layers"] if args.trace else result["e2e"]
        metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
        print(
            json.dumps(
                {
                    "correct": result["e2e"]["oracle_mismatches"]["value"] == 0,
                    "attempted": len(runner.executions),
                    "failed": sum(not e.ok for e in runner.executions),
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
