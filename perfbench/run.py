#!/usr/bin/env python3
"""The repository benchmark: seeded query workloads against the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client thread issues registry entries one after another (a closed loop)
into one ``local[<cores>]`` session. A run:

1. generates the workload's inputs from ``--seed`` (``gen.py``, untimed) and
   computes the DuckDB-oracle digest of every entry over them (untimed);
2. sets up once, cold: launches the driver JVM and creates the session, then
   runs one untimed warm-up pass over every entry (``setup_s``); then runs
   more untimed passes for ``SETTLE_S`` seconds, until JIT compilation has
   mostly settled;
3. runs whole passes, each in a seeded order, until ``--seconds`` of timed
   wall time and ``MIN_PASSES`` passes are done, releasing every persist
   between entries (``force_release_all``); every result is checked against
   its oracle digest (or, for an entry without one, its first warm-up
   digest); the throughput, CPU and memory metrics are medians over these
   passes;
4. with ``--trace 1``, then repeats the same number of passes with the layer
   collector and span recorder on, and reports per-layer metrics, the
   tracing overhead, and writes the spans as JSON.

Human-readable lines go first; the last line of standard output is the JSON
result (``correct``, ``attempted``, ``failed``, ``metrics``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import gen  # noqa: E402
from check import digest, oracle_digests  # noqa: E402

PACKAGE = "hadoop_3_0_0_beta1_gaia_spark"
# A run keeps going past --seconds until every entry has this many timed
# samples, so that each entry's median latency is defined.
MIN_PASSES = 3
# Untimed whole passes between the set-up and the timed passes, for at least
# this many seconds: for several passes after the cold warm-up pass the JIT
# compiler still runs beside the queries and latencies keep falling, by up to
# a third.
SETTLE_S = 8.0
# Driver JVM heap: ample for the sf0.02 inputs, small on a shared host.
DRIVER_MEM = "1g"


# Inputs: REPLICAS seeded replicas of a base unit at SF_PER_REPLICA (sf0.02
# in all). They are small because the whole measurement protocol, the cold
# set-up included, must fit about 60 s per run; at this size fixed per-query
# costs (planning, job scheduling, Python-worker start and init) dominate.
SF_PER_REPLICA = 0.01
REPLICAS = 2

# Registry entries per workload; why each workload exists is recorded in
# BENCHMARK.json.
WORKLOADS = {
    # JVM only: scan, broadcast joins, codegen aggregation, a shuffle sort, a
    # file write and a stateful streaming drain; no Python crossing.
    "relational_io": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "secondary_sort",
        "orc_roundtrip_scan",
        "stream_windowed_counts",
    ),
    # Python-worker crossings: the MinHash-LSH pandas/Arrow kernels with their
    # pair expansion and shuffles, the cosine top-k Arrow kernel; plus the
    # JVM-side tokenizing word count over the same documents.
    "corpus_kernels": (
        "word_count",
        "dedup_minhash_lsh",
        "knn_cosine_topk",
    ),
}


@dataclass
class Entry:
    name: str
    ok: bool
    error: str | None
    build_s: float = 0.0
    action_s: float = 0.0
    release_s: float = 0.0
    wall_s: float = 0.0
    layers: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.action_s


@dataclass
class Pass:
    entries: list[Entry]
    wall_s: float  # summed entry wall time, result checks excluded
    cpu_s: float
    peak_bytes: int


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _engine_env(work: str, cores: int) -> None:
    """Environment the session and its workers inherit: every scratch
    directory inside the run's work directory, the repository root on the
    Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # ~2x cores, the session module's own guidance for shuffle partitions
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(2 * cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A driver heap fixed at its maximum size, so GC work and resident memory
    # do not follow run-to-run adaptive heap sizing decisions.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.defaultJavaOptions=-Xms{DRIVER_MEM} pyspark-shell"
    )


def _redirect_stages(stage_root: str) -> None:
    """Point the engine's write-then-read staging paths (``session.stage_dir``
    callers, fixed ``/tmp/gaia_spark_*`` prefixes) into the work directory,
    so a run writes nothing outside its checkout."""
    from hadoop_3_0_0_beta1_gaia_spark import session

    original = session.stage_dir

    def stage_dir(prefix: str, sf_dir: str, name: str) -> str:
        return original(os.path.join(stage_root, os.path.basename(prefix)), sf_dir, name)

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if name.startswith(PACKAGE) and getattr(mod, "stage_dir", None) is original:
            mod.stage_dir = stage_dir


def _stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it, then for
    any process left below this one (Python workers the JVM forked)."""
    from pyspark import SparkContext

    from procs import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


class Runner:
    def __init__(self, workload: str, seed: int, sf_dir: str):
        from hadoop_3_0_0_beta1_gaia_spark import session
        from hadoop_3_0_0_beta1_gaia_spark.plans import registry

        self.session = session
        entries = registry.all_entries()
        self.names = WORKLOADS[workload]
        self.builders = {n: entries[n].build for n in self.names}
        self.oracle = {n: entries[n].oracle for n in self.names}
        self.sf_dir = sf_dir
        self.rng = np.random.default_rng([seed, 2])
        self.expected: dict[str, str] = {}
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    def order(self) -> list[str]:
        return [self.names[i] for i in self.rng.permutation(len(self.names))]

    def start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = self.session.get_session(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def run_entry(self, name: str, collector=None, spans=None, parent=None) -> Entry:
        span = spans.start(name, parent) if spans else None
        t0 = time.perf_counter()
        if collector:
            collector.begin()
        tbl, error, eager = None, None, 0
        build_s = action_s = 0.0
        try:
            sub = spans.start("plans.build", span) if spans else None
            t = time.perf_counter()
            df = self.builders[name](self.spark, self.sf_dir)
            build_s = time.perf_counter() - t
            if spans:
                spans.end(sub)
            if collector:
                eager = collector.split()
            sub = spans.start("action", span) if spans else None
            t = time.perf_counter()
            tbl = df.toArrow()
            action_s = time.perf_counter() - t
            if spans:
                spans.end(sub)
        except Exception as exc:  # a failing entry is counted; the run goes on
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
        t = time.perf_counter()
        self.session.force_release_all(self.spark)
        e = Entry(name, False, error, build_s, action_s, time.perf_counter() - t)
        if collector:
            e.layers = collector.end()
            e.layers["plans.eager_executions"] = eager
            e.layers["session.persisted_rdds_after"] = self.session.cached_entry_count(
                self.spark
            )
        e.wall_s = time.perf_counter() - t0
        if spans:
            spans.end(span, ok=error is None, build_s=build_s, action_s=action_s, **e.layers)
        # untimed: verify the result
        self.attempted += 1
        if tbl is not None:
            got = digest(tbl)
            want = self.expected.setdefault(name, got)
            e.ok = got == want
            if not e.ok:
                e.error = f"digest mismatch {got[:12]} != {want[:12]}"
        if not e.ok:
            self.failures.append(name)
            print(f"FAILED {name}: {e.error}", flush=True)
        return e

    def run_pass(self) -> list[Entry]:
        return [self.run_entry(n) for n in self.order()]

    def timed(self, sampler, seconds=None, passes=None, collector=None, spans=None, root=None):
        """Whole passes until ``seconds`` of entry wall time (and at least
        MIN_PASSES passes), or exactly ``passes`` passes."""
        out: list[Pass] = []
        while (len(out) < passes) if passes is not None else (
            sum(p.wall_s for p in out) < seconds or len(out) < MIN_PASSES
        ):
            span = spans.start(f"pass {len(out)}", root) if spans else None
            cpu0 = sampler.cpu_s()
            sampler.reset_peak()
            got = [self.run_entry(n, collector, spans, span) for n in self.order()]
            cpu = sampler.cpu_s() - cpu0
            if spans:
                spans.end(span)
            out.append(Pass(got, sum(e.wall_s for e in got), cpu, sampler.peak_bytes()))
        return out


def run(args, work: str) -> dict:
    import pyspark

    from hadoop_3_0_0_beta1_gaia_spark import TABLES  # fails outside a full checkout

    from procs import TreeSampler, host_steal_ticks

    t_start = time.perf_counter()
    cores = _cores()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "nproc": cores,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "sf_per_replica": SF_PER_REPLICA,
        "replicas": REPLICAS,
        "protocol": "1 cold set-up (driver JVM launch, session start, untimed "
        f"warm-up pass), untimed settle passes for {SETTLE_S:g} s, then closed-loop "
        f"whole passes in seeded order (at least {MIN_PASSES}), "
        "force_release_all between entries; medians over passes",
        "loadavg_1m_start": os.getloadavg()[0],
    }
    sf_dir = os.path.join(work, "input")
    record["input_rows"] = gen.generate(sf_dir, args.seed, SF_PER_REPLICA, REPLICAS)
    _engine_env(work, cores)
    os.chdir(work)  # spark-warehouse and other cwd-relative files stay here

    r = Runner(args.workload, args.seed, sf_dir)
    _redirect_stages(os.path.join(work, "stage"))
    r.expected = oracle_digests(sf_dir, r.oracle, r.names, TABLES, cores)

    traced = None
    phase = time.perf_counter()
    record["phase_s"] = {"inputs_and_oracle": phase - t_start}
    with TreeSampler() as sampler:
        try:
            start_s = r.start_session()
            r.run_pass()
            setup_s = time.perf_counter() - phase
            record["phase_s"]["setup"] = setup_s
            phase = time.perf_counter()
            settle_end = time.perf_counter() + SETTLE_S
            while time.perf_counter() < settle_end:
                r.run_pass()
            record["phase_s"]["settle"] = time.perf_counter() - phase
            phase = time.perf_counter()

            steal0 = host_steal_ticks()
            timed = r.timed(sampler, seconds=args.seconds)
            steal1 = host_steal_ticks()
            record["host_steal_share"] = (steal1[0] - steal0[0]) / max(
                1, steal1[1] - steal0[1]
            )
            record["phase_s"]["timed"] = time.perf_counter() - phase

            if args.trace:
                from layers import LayerCollector, SpanRecorder

                spans = SpanRecorder(f"{args.workload}-seed{args.seed}")
                collector = LayerCollector(r.spark)
                root = spans.start(args.workload)
                traced = r.timed(
                    sampler, passes=len(timed), collector=collector, spans=spans, root=root
                )
                spans.end(root)
                collector.close()
                trace_dir = os.path.join(REPO, ".perfbench", "traces")
                os.makedirs(trace_dir, exist_ok=True)
                trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
                spans.write(trace_path)

            conf = r.spark.conf
            record["defaultParallelism"] = r.spark.sparkContext.defaultParallelism
            for key in ("spark.sql.shuffle.partitions", "spark.driver.memory"):
                record[key] = conf.get(key)
            record["java"] = r.spark._jvm.java.lang.System.getProperty("java.version")
        finally:
            if r.spark is not None:
                r.spark.stop()
            _stop_jvm()
    record["loadavg_1m_end"] = os.getloadavg()[0]

    # Each entry's median latency over the timed passes; their median is
    # latency_p50_s and their maximum, the slowest entry's, latency_tail_s.
    # Percentiles of the pooled samples would instead fall in the gaps
    # between entries' latency levels, where they jump from run to run.
    record["entry_median_s"] = {
        n: statistics.median(
            [e.latency_s for p in timed for e in p.entries if e.name == n and e.ok]
            or [float("nan")]
        )
        for n in r.names
    }
    record["entry_latency_s"] = {
        n: [round(e.latency_s, 4) for p in timed for e in p.entries if e.name == n]
        for n in r.names
    }
    record["timed_passes"] = [
        {"wall_s": p.wall_s, "cpu_s": p.cpu_s, "peak_mb": p.peak_bytes / 1e6}
        for p in timed
    ]
    slowest = max(record["entry_median_s"], key=record["entry_median_s"].get)
    record["latency_tail"] = {"entry": slowest, "samples": len(timed)}
    print("run_record " + json.dumps(record), flush=True)

    failed = len(r.failures)
    print(
        f"failed_frac {failed / r.attempted:.4f} ({failed}/{r.attempted})"
        + (f" failing: {sorted(set(r.failures))}" if failed else ""),
        flush=True,
    )
    if traced is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "queries_per_min": (
                statistics.median(
                    60.0 * sum(e.ok for e in p.entries) / p.wall_s for p in timed
                ),
                "1/min",
            ),
            "latency_p50_s": (statistics.median(record["entry_median_s"].values()), "s"),
            "latency_tail_s": (record["entry_median_s"][slowest], "s"),
            "cpu_s_per_query": (
                statistics.median(p.cpu_s / len(p.entries) for p in timed),
                "s",
            ),
            "peak_rss_mb": (statistics.median(p.peak_bytes for p in timed) / 1e6, "MB"),
            "verified_frac": (1.0 - failed / r.attempted, "ratio"),
        }
    else:
        metrics = layer_metrics(traced, timed, start_s)
        print(f"trace written to {trace_path}", flush=True)
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}", flush=True)
    return {
        "correct": failed == 0,
        "attempted": r.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


# per-layer metrics reported as a per-entry mean of the collector's sums
_PER_ENTRY = {
    "session.tasks": "count",
    "session.jvm_gc_s": "s",
    "plans.eager_executions": "count",
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_files": "count",
    "sources.write_s": "s",
    "sources.write_bytes": "B",
    "sources.write_files": "count",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_records": "count",
    "operators.shuffle_write_s": "s",
    "operators.spill_bytes": "B",
    "operators.sort_s": "s",
    "operators.agg_build_s": "s",
    "operators.agg_sort_fallback_tasks": "count",
    "operators.broadcast_bytes": "B",
    "operators.broadcast_collect_s": "s",
    "operators.broadcast_build_s": "s",
    "operators.codegen_s": "s",
    "functions.py_init_s": "s",
    "functions.py_run_s": "s",
    "functions.py_bytes_sent": "B",
    "functions.py_bytes_returned": "B",
    "functions.py_rows_out": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
}


def layer_metrics(traced: list[Pass], untraced: list[Pass], start_s: float) -> dict:
    entries = [e for p in traced for e in p.entries]
    n = len(entries)

    def total(key: str) -> float:
        return float(sum(e.layers.get(key, 0.0) for e in entries))

    build = sum(e.build_s for e in entries)
    action = sum(e.action_s for e in entries)
    run_s = total("functions.py_run_s")
    plain = sum(p.wall_s for p in untraced)
    overhead = sum(p.wall_s for p in traced) - plain
    out = {
        "session.start_s": (start_s, "s"),
        "session.release_s": (sum(e.release_s for e in entries) / n, "s"),
        "session.persisted_rdds_after": (
            float(max(e.layers.get("session.persisted_rdds_after", 0) for e in entries)),
            "count",
        ),
        "plans.build_s": (build / n, "s"),
        "plans.build_share": (build / (build + action), "ratio"),
        "functions.init_over_run": (
            total("functions.py_init_s") / run_s if run_s else 0.0,
            "ratio",
        ),
        "trace.overhead_s": (overhead, "s"),
        "trace.overhead_share": (overhead / plain, "ratio"),
    }
    for key, unit in _PER_ENTRY.items():
        out[key] = (total(key) / n, unit)
    return dict(sorted(out.items()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.seed %= 2**63  # numpy seeds must be non-negative
    work = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, work)
    finally:
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
