"""Run state, workload lists, the closed loop and the metric arithmetic
shared by the query workloads and ``registry_ops``."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

from perfbench.spans import COUNTERS as SPARK_COUNTERS
from perfbench.spans import busy_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Tables are generated at this scale factor: every query is bound by
# per-job and per-round fixed cost here, and a whole run, JVM start
# included, must stay under a minute.
SF = 0.001
REGISTER_ROWS = 10_000
DRIVER_MEMORY = "2g"

# The fixed query list of "batch_queries", so a change that moves work
# between fn() and the final action cannot move a query out of the pass.
# "registry_ops" runs the TagRegistry API instead of registry queries.
RELATIONAL = [  # scan, aggregate, window and join plans; no driver loops
    "pricing_summary", "agg_order_stats", "sessionize_events", "asof_join_events", "dedup_exact",
]
# Iterative operators: most time inside fn(), jobs submitted per round.
# Both run a fixed number of rounds, so their work does not depend on the
# seed; a convergence loop's round count would, and would widen the spread.
DRIVER_LOOPS = ["kcore_peel", "label_propagation_communities"]
DRAWING = [  # Drawing Scanner and P&ID pipeline: mapInPandas and Arrow kernels
    "ocr_page_words", "nms_detections", "multimodal_decode",
]
WORKLOADS = {"batch_queries": RELATIONAL + DRIVER_LOOPS + DRAWING, "registry_ops": []}

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_geomean_ms": "ms"}
# Wall-clock figures of the same passes. They move with the load other
# guests put on the host, so they are per-layer metrics, not bounded ones.
WALL = {"wall.pass_s": "s", "wall.op_geomean_ms": "ms", "wall.ops_per_s": "1/s"}
API_OPS = (
    "get_data", "get_data_search", "get_data_after", "find_tag", "sync_rows",
    "upsert_tags", "import_rows", "delete_tags", "apply_approvals",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A run reports all of them, with
    0 for a layer its workload does not touch."""
    units = {
        **WALL, "wall.setup_s": "s",
        "session.start_s": "s", "session.warmup_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "queries.build_s": "s", "queries.action_s": "s", "trace.overhead_pct": "%",
        "error_rate": "ratio", "spark.build_jobs": "count", "spark.offcpu_ms": "ms",
    }
    for c in SPARK_COUNTERS:
        units[f"spark.{c}"] = "ms" if c.endswith("_ms") else "bytes" if c.endswith("_bytes") else "count"
    for q in WORKLOADS["batch_queries"]:
        units.update({f"q.{q}.s": "s", f"q.{q}.build_jobs": "count"})
    units.update({f"api.{op}_ms": "ms" for op in API_OPS})
    units.update({
        "api.read_p50_ms": "ms", "api.read_p90_ms": "ms", "api.reads": "count",
        "api.write_p50_ms": "ms", "api.write_p90_ms": "ms", "api.writes": "count",
        "api.jobs_per_read": "count", "api.jobs_per_write": "count",
        "storage.bytes_written_per_row_changed": "bytes", "storage.bytes_per_live_byte": "ratio",
        "storage.files_per_version": "count",
        "streaming.batches": "count", "streaming.drain_ms": "ms",
        "streaming.rows_per_batch": "count", "streaming.ingest_rows_per_s": "1/s",
    })
    return units


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def percentile(values, q):
    """Nearest-rank percentile ``q`` (0-100) of ``values``."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


class Run:
    """One benchmark process: work directory, Spark session, tracer and the
    tally of attempted and failed operations."""

    def __init__(self, workload, seed, seconds, trace, register_rows, t_start, cpu_start):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.register_rows = register_rows
        self.t_start, self.cpu_start = t_start, cpu_start
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.attempted = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.setup_s = 0.0
        self.spark = None
        self.tracer = None

    def fail(self, message: str) -> None:
        self.problems.append(message)
        print(f"perfbench: {message}", file=sys.stderr)

    def start_session(self) -> None:
        """Session sized by the benchmark: local[nproc], nproc shuffle
        partitions, a driver heap well below RAM, Python workers that can
        import the package from any directory, and every scratch file
        inside the work directory."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "TMPDIR": tmp,
            "TZ": "UTC",
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            # no hsperfdata files in the system temp directory from the Spark
            # launcher JVM (the driver JVM gets -XX:-UsePerfData below)
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -Duser.timezone=UTC "
                # JIT settings that bring the JVM near a steady state before
                # timing. C1 only: with C2 the driver JVM spends tens of CPU
                # seconds compiling in its first minutes, and that work lands
                # at random in the timed calls. Low compile thresholds, so hot
                # methods are compiled during the warm-up pass. A code cache
                # as large as C2's default: C1's default of 48 MB fills with
                # Spark's generated code, and its flush a minute into the run
                # doubled the CPU time of the calls around it.
                "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 "
                "-XX:ReservedCodeCacheSize=256m' "
                f"--conf spark.sql.warehouse.dir={tmp}/warehouse "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        })
        time.tzset()
        from acuvate_spark.session import get_spark
        from perfbench.spans import Tracer

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.nproc)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark)
        n = self.nproc
        # start a Python worker on every slot before anything is timed
        self.spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        t1 = time.perf_counter()
        self.layer["session.start_s"] = t1 - t0
        self.tracer.span("session.start", t0, t1, self.trace)

    def stop(self) -> None:
        """Stop Spark, wait until the JVM (and with it every Python worker)
        has exited, and remove the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)

    def end_setup(self) -> None:
        """Set-up ends: its cost is the busy CPU time since process start,
        like the cost of every timed op; its wall time is per-layer."""
        self.setup_s = busy_cpu_s() - self.cpu_start
        wall = time.perf_counter() - self.t_start
        self.layer["wall.setup_s"] = wall
        self.tracer.span("setup", self.t_start, self.t_start + wall, self.trace)

    def dump_spans(self) -> None:
        """Write the run's spans to ``.perfbench/traces/``."""
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        self.tracer.dump(os.path.join(out, f"{self.workload}-seed{self.seed}.json"))

    def loop(self, units: list, run_unit) -> tuple[list, float]:
        """Closed loop over ``units`` (queries or ops), one pass after
        another, until ``seconds`` have passed and one pass is complete (two
        in a traced run, so that traced and untraced passes can be compared).
        ``run_unit(unit, pass_index)`` returns ``(seconds, cpu_seconds,
        spans)``. In a traced run the even passes are traced. Returns the
        passes, each a list of ``(unit, seconds, cpu_seconds, spans)``, and
        the measured seconds."""
        whole = 2 if self.trace else 1
        passes = []
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        while True:
            self.tracer.enabled = self.trace and len(passes) % 2 == 0
            done = []
            passes.append(done)
            for u in units:
                done.append((u, *run_unit(u, len(passes) - 1)))
                if time.perf_counter() >= deadline and len(passes) > whole:
                    break
            if time.perf_counter() >= deadline and len(passes) >= whole:
                break
        self.tracer.enabled = False
        return passes, time.perf_counter() - t0

    def end_to_end(self, passes, elapsed) -> dict:
        """The end-to-end metrics and their wall-clock counterparts. A pass
        costs the sum over its ops of each op's median, so one slow op in
        one pass does not set the figure and a pass cut by the deadline
        still contributes."""
        wall: dict[str, list[float]] = {}
        cpu: dict[str, list[float]] = {}
        for p in passes:
            for u, s, c, _ in p:
                if s > 0:  # a failed op has no latency
                    wall.setdefault(u, []).append(s)
                    cpu.setdefault(u, []).append(c)
        per_op_cpu = [median(v) for v in cpu.values()]
        per_op_wall = [median(v) for v in wall.values()]
        return {
            "setup_s": self.setup_s,
            "pass_cpu_s": sum(per_op_cpu),
            "op_cpu_geomean_ms": geomean([c * 1000 for c in per_op_cpu]),
            "wall.pass_s": sum(per_op_wall),
            "wall.op_geomean_ms": geomean([s * 1000 for s in per_op_wall]),
            "wall.ops_per_s": sum(len(p) for p in passes) / elapsed,
        }

    def traced(self, passes, n_units) -> list:
        """The complete traced passes of a traced run."""
        return [p for i, p in enumerate(passes) if i % 2 == 0 and len(p) == n_units]

    def overhead_pct(self, passes, n_units) -> float:
        """Traced against untraced busy CPU time per pass within one traced
        run."""
        full = [(i, sum(c for _, _, c, _ in p)) for i, p in enumerate(passes) if len(p) == n_units]
        traced = [s for i, s in full if i % 2 == 0]
        plain = [s for i, s in full if i % 2 == 1]
        if not traced or not plain:
            return 0.0
        return (median(traced) / median(plain) - 1) * 100

    def spark_layer(self, traced_passes) -> None:
        """Per-pass Spark counters: each counter summed over a pass's spans,
        then the median over traced passes."""
        for c in SPARK_COUNTERS:
            self.layer[f"spark.{c}"] = median([sum(sp[c] for _, _, _, sps in p for sp in sps)
                                               for p in traced_passes])
        self.layer["spark.offcpu_ms"] = self.layer["spark.executor_run_ms"] - self.layer["spark.executor_cpu_ms"]
