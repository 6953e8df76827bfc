"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> [--seconds <s>] [--trace <0|1>]

Run from the repository root. One process, one client, closed loop:

1. Generate the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench/cache``; never timed).
2. Set up: start Spark, run a warm-up job, prepare each op family's
   state, and make one untimed pass over the op mix whose every output is
   checked. ``setup_s`` runs from process start to the end of this pass,
   less the input generation.
3. Timed ops, each checked, in whole cycles until ``--seconds`` (default:
   ``run_seconds`` of BENCHMARK.json) have passed, and at least the
   workload's ``min_cycles``.

With ``--trace 1`` step 3 runs one untimed cycle, then one cycle each
untraced, traced, untraced. Traced ops run every layer call in a span and a Spark job group
of its own. The per-layer metrics come from the traced ops; the tracing
overhead is their end-to-end latency less that of the untraced ops. Spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

PACKAGE = "airflow_etl_pyspark_inmet_spark"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    from perfbench.workloads import CORPUS_QUERIES, LLM, PIPE, REL, SNAP, STAR_QUERIES

    run = f"{PIPE}.run_pipeline"
    return [
        "session.get_spark.s",
        "session.warmup.s",
        "ops",
        "failed_ops_ratio",
        "bytes_written_per_input_byte",
        "trace.overhead_s",
        "trace.overhead_ratio",
        "sources.inmet_csv.read_inmet_stations.s",
        "sources.inmet_csv.read_inmet_stations.input_bytes",
        "sources.inmet_csv.read_inmet_measurements.s",
        "sources.inmet_csv.read_inmet_measurements.jobs",
        "sources.inmet_csv.read_inmet_measurements.input_bytes",
        *(
            f"{run}.{m}"
            for m in (
                "s",
                "self_s",
                "jobs",
                "stages",
                "tasks",
                "cpu_s",
                "wait_s",
                "input_bytes",
                "shuffle_bytes",
                "output_bytes",
                "scan_amplification",
                "files_written",
                "bytes_written_per_input_byte",
            )
        ),
        *(f"{PIPE}.{fn}.s" for fn in ("build_previsoes", "build_datas", "fato_agg_previsoes_dia", "cidade_kpis_mensal")),
        *(f"{REL}.{q}.{m}" for q in STAR_QUERIES for m in ("s", "tasks")),
        *(f"{REL}.{m}" for m in ("stages", "cpu_s", "wait_s", "shuffle_bytes", "spill_bytes")),
        *(f"{LLM}.{q}.{m}" for q in CORPUS_QUERIES for m in ("s", "tasks", "wait_s", "shuffle_bytes")),
        f"{LLM}.spill_bytes",
        *(f"{SNAP}.snapshot_merge.{m}" for m in ("s", "jobs", "tasks", "files_rewritten", "bytes_rewritten_per_delta_byte")),
        f"{SNAP}.snapshot_read.s",
        f"{SNAP}.snapshot_read.files_scanned",
    ]


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith(("_ratio", "_amplification", "_byte")):
        return "ratio"
    return "count"


def run_seconds(root: str) -> float:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return float(json.load(f)["run_seconds"])


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, help="timed length (default: run_seconds of BENCHMARK.json)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _START:6.1f}s]: {msg}", file=sys.stderr, flush=True)


def prepare_process(root: str, work: str) -> dict:
    """Environment for Spark, set before the JVM starts: all cores, a
    host-sized driver heap, scratch space inside ``work``, and the repo
    root on the Python workers' path. Returns extra Spark conf."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=f"{min(4096, max(1024, total_mb // 8))}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
    )
    os.chdir(work)  # metastore_db/, derby.log and friends land here
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData"
        ),
    }


def warmup(spark) -> None:
    """A fixed small job with a shuffle: starts the executor threads
    and compiles the common code paths before anything is timed."""
    from pyspark.sql import functions as F

    (
        spark.range(0, 200_000, numPartitions=4)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.sum("id"))
        .collect()
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    and every Python worker to exit."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    procs = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def latency_p50(ops: list[dict]) -> float:
    """Geometric mean over op kinds of each kind's median latency, so a
    mix of cheap and costly ops has a steady middle."""
    from perfbench.trace import median

    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op["kind"], []).append(op["s"])
    return math.exp(sum(math.log(median(v)) for v in by_kind.values()) / len(by_kind))


class Runner:
    def __init__(self, wl, spark, tracer, rss):
        self.wl, self.spark, self.tr, self.rss = wl, spark, tracer, rss
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.next_id = 0

    def _checked(self, kind: str, fn) -> bool:
        self.attempted += 1
        try:
            bad = fn()
        except Exception:
            bad = [f"{kind}: {traceback.format_exc()}"]
        self.rss.poll()
        if bad:
            self.failed += 1
            self.problems += bad
        return not bad

    def first_pass(self) -> None:
        for part, kind in self.wl.first_kinds():
            t0 = time.perf_counter()
            self._checked(kind, lambda: part.first(self.spark, kind))
            log(f"first pass {kind}: {time.perf_counter() - t0:.3f} s")

    def timed(self, seconds: float, min_cycles: int) -> list[dict]:
        """Whole cycles of timed ops, at least ``min_cycles``, until
        ``seconds`` have passed."""
        ops: list[dict] = []
        n = len(self.wl.cycle)
        start = time.perf_counter()
        j = 0
        while time.perf_counter() - start < seconds or j % n or j < n * min_cycles:
            part, kind = self.wl.op(j)
            op = {"id": self.next_id, "part": part, "kind": kind}
            self.tr.op_id = self.next_id
            self.next_id += 1
            j += 1

            def one():
                t0 = time.perf_counter()
                result = part.run(self.spark, kind)
                op["s"] = time.perf_counter() - t0
                self.tr.op_id = None
                return part.check(self.spark, kind, result)

            if self._checked(kind, one):
                op["rows"] = part.rows(kind)
                op["written"], op["input"] = part.written()
                ops.append(op)
            self.tr.op_id = None
        return ops


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        log(f"engine package {PACKAGE} not found; run from the repository root")
        return 2
    seconds = args.seconds if args.seconds is not None else run_seconds(root)
    sys.path.insert(0, root)
    from perfbench.trace import PeakRss, Tracer, median, self_times
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    state = os.path.join(root, ".perfbench")
    cache = os.path.join(state, "cache")
    work = os.path.join(state, f"work-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)

    tracer = Tracer(enabled=False)
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](cache, work, args.seed, tracer)
    gen_s = time.perf_counter() - t0
    log(f"inputs ready in {gen_s:.1f} s")
    conf = prepare_process(root, work)
    if args.trace:
        for part in wl.parts:
            part.instrument()

    from airflow_etl_pyspark_inmet_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        t1 = time.perf_counter()
        tracer.bind(spark)
        warmup(spark)
        t2 = time.perf_counter()
        for part in wl.parts:
            part.prepare(spark)
        runner = Runner(wl, spark, tracer, PeakRss(os.getpid()))
        runner.first_pass()
        setup_s = time.perf_counter() - _START - gen_s
        log(f"set-up and checked first pass done: setup_s {setup_s:.2f}")

        untraced, traced = [], []
        # A traced run warms up for one more cycle, then measures one cycle
        # each untraced, traced, untraced, so the ops' warming trend
        # cancels out of the tracing overhead and the run stays short.
        for on in (None, False, True, False) if args.trace else (False,):
            tracer.enabled = bool(on)
            ops = runner.timed(seconds, 1 if args.trace else wl.min_cycles)
            if on is not None:
                (traced if on else untraced).extend(ops)
        tracer.enabled = False
    finally:
        if spark is not None:
            stop_spark(spark)

    log("spark stopped")
    for p in runner.problems[:10]:
        log(f"WRONG: {p}")
    timed = traced if args.trace else untraced
    if not timed:
        log("no timed op succeeded")
        return 1
    log(f"{len(timed)} timed ops (p90 needs 100): " + ", ".join(f"{o['kind']} {o['s']:.3f}" for o in timed))
    if args.trace:
        tracer.dump(os.path.join(state, f"spans-{args.workload}-{args.seed}.jsonl"))
        names = per_layer_names()
        metrics = dict.fromkeys(names, 0.0)
        written, inputs = sum(o["written"] for o in timed), sum(o["input"] for o in timed)
        lat_t, lat_u = latency_p50(traced), latency_p50(untraced)
        metrics |= {
            "session.get_spark.s": t1 - t0,
            "session.warmup.s": t2 - t1,
            "ops": len(timed),
            "failed_ops_ratio": runner.failed / runner.attempted,
            "bytes_written_per_input_byte": written / inputs if inputs else 0.0,
            "trace.overhead_s": lat_t - lat_u,
            "trace.overhead_ratio": lat_t / lat_u - 1,
        }
        for part in wl.parts:
            metrics |= part.layer_report({o["id"] for o in timed if o["part"] is part})
        unknown = set(metrics) - set(names)
        if unknown:
            raise RuntimeError(f"metrics missing from the per-layer list: {sorted(unknown)}")
        out = {k: {"value": float(metrics[k]), "unit": unit_of(k)} for k in names}
        for name, s in sorted(self_times(tracer).items()):
            log(f"self time {name}: {s:.4f} s/op")
        log(f"tracing overhead: latency_p50_s {lat_u:.4f} untraced, {lat_t:.4f} traced")
    else:
        values = {
            "setup_s": setup_s,
            "latency_p50_s": latency_p50(timed),
            "throughput_rows_per_s": sum(o["rows"] for o in timed) / sum(o["s"] for o in timed),
            "peak_rss_mb": runner.rss.mb(),
        }
        out = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in values.items()}
    shutil.rmtree(work, ignore_errors=True)
    log(f"failed_ops_ratio {runner.failed}/{runner.attempted}; median op {median(o['s'] for o in timed):.3f} s")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
