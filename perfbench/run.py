"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The benchmark
generates its inputs from the seed under ``.perfbench_work/`` in the
checkout, runs one workload (see ``workloads.py``) as a closed loop from
this single process against a Spark session pinned to the host, checks
every output, removes everything it wrote, and prints one JSON object as
the last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` installs the per-layer spans and reports the
per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import check  # noqa: E402
from perfbench.workloads import GALG_ALGORITHMS, WORKLOADS, Run  # noqa: E402

WORK_DIR = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
}

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "operators.query_fn.self_s": "s/op",
    "spark_util.materialize.self_s": "s/op",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "agent.planner.generate_cypher.self_s": "s/op",
    "agent.planner.correct_cypher.self_s": "s/op",
    "agent.planner.synthesize_answer.self_s": "s/op",
    "agent.workflow.run_agent_workflow.self_s": "s/op",
    "agent.workflow.correction_rounds_per_q": "count",
    "agent.workflow.first_pass_valid_frac": "frac",
    "cypher.parser.parse.self_s": "s/op",
    "cypher.parser.parse.calls_per_op": "count",
    "cypher.corrector.correct_directions.self_s": "s/op",
    "cypher.compiler.compile_cypher.self_s": "s/op",
    "cypher.compiler.compile_cypher.calls_per_op": "count",
    "agent.rca.run_rca.self_s": "s/op",
    "agent.rca.subqueries_per_session": "count",
    "rca_p50_s": "s",
    "graph.property_graph.persist.self_s": "s/op",
    "graph.property_graph.unpersist.self_s": "s/op",
    "io.sqlite.introspect.self_s": "s/op",
    "io.sqlite.read_normalized.self_s": "s/op",
    "io.sqlite.rows_per_s": "rows/s",
    "schema.inference.infer_graph_schema.self_s": "s/op",
    "graph.builder.build_graph.self_s": "s/op",
    "graph.builder.tpch_graph.self_s": "s/op",
    "graph.storage.save_graph.self_s": "s/op",
    "graph.storage.load_graph.self_s": "s/op",
    "graph.storage.bytes_written": "B/cycle",
    "graph_elements_per_s": "elements/s",
    "stored_bytes_per_source_byte": "B/B",
    "cypher.write.cypher_write.self_s": "s/op",
    "cypher.write.rows_per_batch": "rows",
    "merge_rows_per_s": "rows/s",
    **{f"graph.algorithms.{a}.self_s": "s/op" for a in GALG_ALGORITHMS},
    **{f"graph.algorithms.{a}.supersteps": "count" for a in GALG_ALGORITHMS},
    "graph.algorithms.superstep_p50_s": "s",
    "graph.algorithms.edge_layout_writes": "count",
    "graph.algorithms.edge_layout_hits": "count",
    "op_p50_cpu_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "wall_setup_s": "s",
    "failed_frac": "frac",
    "peak_rss_mb": "MB",
    "trace.cpu_s_per_op": "s",
    "trace.overhead_frac": "frac",
}

_PER_OP_SPANS = [k[: -len(".self_s")] for k in PER_LAYER if k.endswith(".self_s")]


def host_settings() -> dict:
    """Spark pinned to this host: every CPU the process may use, a JVM
    heap of a quarter of physical memory (at most 4 GB), and scratch,
    warehouse and temp directories inside the benchmark's work dir."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(4096, mem_mb // 4)
    dirs = {k: os.path.join(WORK_DIR, k) for k in ("local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
    )
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    return {"cpus": cpus, "heap_mb": heap_mb, "conf": conf}


def _ticks(stat_path: str) -> tuple[str, int]:
    """(thread or process name, utime + stime in clock ticks)."""
    with open(stat_path) as f:
        head, _, rest = f.read().rpartition(")")
    fields = rest.split()
    return head.partition("(")[2], int(fields[11]) + int(fields[12])


class Session:
    """The one Spark session of a run, started on demand and stopped with
    its JVM at the end."""

    def __init__(self, settings: dict) -> None:
        self.settings = settings
        self.spark = None
        self.start_s = 0.0
        self.start_cpu_s = 0.0

    def start(self) -> None:
        from project_graphdb_spark import get_spark

        t0, c0 = time.perf_counter(), time.process_time()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.settings["conf"])
        self.start_s = time.perf_counter() - t0
        self.start_cpu_s = self.cpu_s() - c0
        self.spark.sparkContext.setLogLevel("ERROR")
        parallelism = self.spark.sparkContext.defaultParallelism
        print(
            f"perfbench: cpus={self.settings['cpus']} defaultParallelism={parallelism} "
            f"heap={self.settings['heap_mb']}m",
            flush=True,
        )
        if parallelism != self.settings["cpus"]:
            raise SystemExit(
                f"defaultParallelism {parallelism} != requested {self.settings['cpus']}"
            )

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM and this Python process,
        without the JVM's JIT compiler threads.

        The kernel counts time the host took a virtual CPU away as steal,
        not as a process's CPU time, so this reads the same on a busy
        host. JIT compilation runs on its own threads, in bursts that land
        in whichever operation is running, so it is left out; the JVM
        options fix the compiler threads for the JVM's life, so their
        totals never vanish with an exited thread."""
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        total = _ticks(f"/proc/{pid}/stat")[1]
        jit = 0
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                name, ticks = _ticks(f"/proc/{pid}/task/{tid}/stat")
            except FileNotFoundError:  # thread exited since the listing
                continue
            if "CompilerThre" in name:
                jit += ticks
        return (total - jit) / os.sysconf("SC_CLK_TCK") + time.process_time()

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm_kb = 0
        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def per_layer(run: Run, wrapper_cost: float) -> dict[str, float]:
    tracer, jobs = run.tracer, run.jobs
    ops = max(len(run.latencies), 1)
    self_s = tracer.self_times()
    out = {f"{name}.self_s": self_s.get(name, 0.0) / ops for name in _PER_OP_SPANS}
    reads = self_s.get("io.sqlite.read_normalized", 0.0)
    elapsed = sum(run.latencies)
    out.update(
        {
            "spark.jobs_per_op": jobs.jobs / ops,
            "spark.tasks_per_op": jobs.tasks / ops,
            "spark.failed_tasks": jobs.failed_tasks,
            "cypher.parser.parse.calls_per_op": tracer.count("cypher.parser.parse") / ops,
            "cypher.compiler.compile_cypher.calls_per_op": (
                tracer.count("cypher.compiler.compile_cypher") / ops
            ),
            "io.sqlite.rows_per_s": (
                run.extra.get("io.sqlite.source_rows", 0) * run.extra.get("etl_cycles", 0) / reads
                if reads
                else 0.0
            ),
            "op_p50_cpu_s": check.median(run.cpu),
            "ops_per_s": len(run.latencies) / elapsed,
            "op_p50_s": check.median(run.latencies),
            "wall_setup_s": run.session.start_s + check.median(run.setup_reps),
            "failed_frac": run.tally.failed_frac,
            "peak_rss_mb": run.extra["peak_rss_mb"],
            "trace.cpu_s_per_op": sum(run.cpu) / ops,
            "trace.overhead_frac": len(tracer.spans) * wrapper_cost / elapsed,
        }
    )
    for name in PER_LAYER:
        out.setdefault(name, run.extra.get(name, 0.0))
    return {k: out[k] for k in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import project_graphdb_spark  # noqa: F401  (fail before any work without the program)

    shutil.rmtree(WORK_DIR, ignore_errors=True)
    settings = host_settings()
    session = Session(settings)
    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer()
        trace.install(tracer)
    run = Run(session, args.seed, args.seconds, WORK_DIR, tracer)
    run.before_ops = lambda: _before_ops(run)
    try:
        WORKLOADS[args.workload](run)
        if args.trace:
            run.extra["peak_rss_mb"] = session.peak_rss_mb()
            wrapper_cost = tracer.wrapper_cost_s()
    finally:
        if tracer is not None:
            tracer.restore()
        session.stop()
        shutil.rmtree(WORK_DIR, ignore_errors=True)

    if run.tally.errors:
        print("perfbench: failed operations:", *run.tally.errors, sep="\n  ", file=sys.stderr)
    if args.trace:
        values = per_layer(run, wrapper_cost)
        units = PER_LAYER
    else:
        values = {
            "setup_s": session.start_cpu_s + check.median(run.setup_cpu),
            "cpu_s_per_op": sum(run.cpu) / len(run.cpu),
        }
        units = END_TO_END
    result = {
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


def _before_ops(run: Run) -> None:
    """Called by a workload between its set-up and its first timed
    operation: spans recorded during set-up are dropped, and job stats
    start counting."""
    if run.tracer is not None:
        from perfbench.trace import JobStats

        run.tracer.spans.clear()
        run.jobs = JobStats(run.session.spark.sparkContext)


if __name__ == "__main__":
    sys.exit(main())
