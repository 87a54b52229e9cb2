"""One benchmark run, in its own process so that set-up is timed from
process start.  ``run.py`` starts it with the run's work directory as
cwd and reads the result file it writes.

usage: worker.py WORKLOAD DATA_DIR SEED SECONDS TRACE RESULT_JSON

Order of a run: set-up (``get_spark`` plus one warm-up query), host
probes, two untimed warm-up passes, at least three timed passes and
SECONDS seconds, host probes again, then output checks against DuckDB.  One
client runs the ops of a pass one after another (closed loop); the
seed fixes the op order of every pass.

With TRACE=1 the timed passes run each op phase (build, plan, run) in
its own span and Spark job group, count py4j CALL commands during
builds, and read the Spark event log after the session stops.  They
alternate with untraced passes, so the tracing overhead is measured in
the same process on equally warm passes.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from contextlib import nullcontext

import duckdb

from etl_builder_spark.registry import REGISTRY, oracle_sql
from etl_builder_spark.session import TABLES, get_spark

import etl
import tracing
from workloads import WORKLOADS

WARMUP_KEY = "agg_pricing_summary"
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 3


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_stat("/proc/self/stat")[1][19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


class CpuMeter:
    """CPU seconds (user + system) of this process group, which holds
    the worker, its JVM and the JVM's Python workers, less the time of
    the JVM's JIT compiler threads.  How much the JIT compiles depends
    on how far the process has warmed up, not on the workload, and it
    keeps shrinking for more passes than a run can afford to warm up."""

    def __init__(self, jvm_pid: int):
        self.pgid = os.getpgid(0)
        self.tasks = f"/proc/{jvm_pid}/task"
        self.jit: dict[str, int] = {}  # compiler thread -> ticks, kept after it exits
        self.hz = os.sysconf("SC_CLK_TCK")

    def read(self) -> float:
        total = 0
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                _, fields = _stat(f"/proc/{pid}/stat")
            except OSError:
                continue
            if int(fields[2]) == self.pgid:
                total += int(fields[11]) + int(fields[12])
        for tid in os.listdir(self.tasks):
            try:
                comm, fields = _stat(f"{self.tasks}/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(JIT_THREADS):
                self.jit[tid] = int(fields[11]) + int(fields[12])
        return (total - sum(self.jit.values())) / self.hz


def canon(pdf):
    """Order-insensitive comparable form of a result: columns sorted by
    name, rows sorted on their values, cells as strings."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns))
    return pdf.reset_index(drop=True).astype(str)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    def __init__(self, workload: str, data_dir: str, seed: int, seconds: float, trace: bool):
        self.data_dir, self.seconds, self.trace = data_dir, seconds, trace
        self.spec = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.out_dir = os.path.abspath("out")
        self.metrics: dict[str, tuple[float, str]] = {}
        self.failed: list[str] = []
        self.attempted = 0
        self.results: list[tuple[int, str, object]] = []  # (pass, op, result)

    # ---- set-up --------------------------------------------------
    def setup(self) -> None:
        self.oracles = oracle_sql()  # also imports every registering module
        t0 = time.time()
        self.spark = get_spark("perfbench", shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.time() - t0
        REGISTRY[WARMUP_KEY].fn(self.spark, self.data_dir).toPandas()
        self.metric("setup_s", process_age_s(), "s")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        self.cpu = CpuMeter(self.jvm_pid)
        if self.trace:
            self.tracer = tracing.Tracer(self.spark)
            self.py4j = tracing.Py4jCounter(self.spark)

    def probes(self, when: str) -> None:
        """bench.py's two host-speed probes, once each: a pure-codegen
        range sum and a lineitem scan + shuffle."""
        spark = self.spark
        lineitem = os.path.join(self.data_dir, "lineitem.parquet")
        for probe, action in (
            ("range_sum", lambda: spark.range(100_000_000).selectExpr("sum(id)").collect()),
            ("shuffle", lambda: spark.read.parquet(lineitem).groupBy("l_suppkey").count().orderBy("l_suppkey").collect()),
        ):
            t0 = time.perf_counter()
            action()
            self.metric(f"host.{probe}_{when}_s", time.perf_counter() - t0, "s")

    # ---- ops -----------------------------------------------------
    def ops(self):
        """(name, layer, build) for every op of one pass, in seed order."""
        if self.spec["kind"] == "keys":
            ops = [(k, "registry", lambda k=k: REGISTRY[k].fn(self.spark, self.data_dir)) for k in self.spec["keys"]]
        else:
            ops = etl.ops(self.spark, self.data_dir, os.path.join(self.out_dir, f"p{self.pass_no}"))
        self.rng.shuffle(ops)
        return ops

    def run_op(self, name: str, layer: str, build, traced: bool) -> None:
        """Build and run one op.  Traced, each phase gets a span and a
        job group ``p<pass>/<op>/<phase>``."""
        group = f"p{self.pass_no}/{name}"
        if not traced:
            result = self.execute(build())
        else:
            span = self.tracer.span
            with span("build", f"{group}/build", op=name, layer=layer) as s, self.py4j.measure() as calls:
                built = build()
            s["py4j_calls"] = calls["calls"]
            sink = isinstance(built, tuple)
            if not sink:
                with span("plan", f"{group}/plan", op=name, layer=layer):
                    built._jdf.queryExecution().executedPlan()  # noqa: SLF001
            with span("run", f"{group}/run", op=name, layer=layer, sink=sink) as s:
                result = self.execute(built)
            if sink:
                s["files"], s["mb"] = _dir_stats(built[1])
        self.results.append((self.pass_no, name, result))

    @staticmethod
    def execute(built):
        if isinstance(built, tuple):
            etl.write(built)
            return built[1]
        return built.toPandas()

    def run_pass(self, traced: bool) -> dict:
        """One pass over the workload's ops; returns its wall and CPU
        seconds, total and per op."""
        rec = {"op_wall": {}, "op_cpu": {}}
        t0 = t_op = time.perf_counter()
        c0 = c_op = self.cpu.read()
        with self.tracer.span("pass", pass_no=self.pass_no) if traced else nullcontext():
            for name, layer, build in self.ops():
                self.attempted += 1
                try:
                    self.run_op(name, layer, build, traced)
                except Exception as e:  # noqa: BLE001
                    self.failed.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                t, c = time.perf_counter(), self.cpu.read()
                rec["op_wall"][name] = t - t_op
                rec["op_cpu"][name] = c - c_op
                print(f"#   {name}: {t - t_op:.3f}s cpu {c - c_op:.2f}s", file=sys.stderr)
                t_op, c_op = t, c
        rec["wall"], rec["cpu"] = t_op - t0, c_op - c0
        print(f"# pass {self.pass_no} ({'traced' if traced else 'untraced'}): {rec['wall']:.3f}s cpu {rec['cpu']:.2f}s", file=sys.stderr)
        self.pass_no += 1
        return rec

    # ---- the run -------------------------------------------------
    def run(self) -> dict:
        self.setup()
        self.probes("start")
        # untimed warm-up: the cold first pass, then more, because JIT
        # compilation keeps speeding passes up for several passes
        self.pass_no = 0
        warmup_s = self.run_pass(traced=False)["wall"]
        for _ in range(WARMUP_PASSES - 1):
            self.run_pass(traced=False)
        self.attempted, self.failed, self.results = 0, [], []  # warm-up is not judged

        # timed: at least MIN_TIMED_PASSES passes and SECONDS seconds; a
        # traced run alternates untraced and traced passes, so tracing
        # overhead is measured on equally warm passes
        timed, untraced = [], []
        t_end = time.perf_counter() + self.seconds
        while len(timed) < MIN_TIMED_PASSES or time.perf_counter() < t_end:
            if self.trace:
                untraced.append(self.run_pass(traced=False))
            timed.append(self.run_pass(traced=self.trace))
        self.probes("end")

        self.check()
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid)
        self.spark.stop()

        def med(passes, key):
            return statistics.median(p[key] for p in passes)

        def median_op(passes, key):
            """The middle op's cost: median over ops of each op's
            median over the passes."""
            return statistics.median(statistics.median(p[key][op] for p in passes) for op in passes[0][key])

        if not self.trace:
            self.metric("pass_cpu_s", med(timed, "cpu"), "s")
            self.metric("peak_rss_mb", rss, "MB")
            self.metric("ok_frac", 1 - len(self.failed) / self.attempted, "ratio")
            print(f"# wall: pass {med(timed, 'wall'):.4f}s, op p50 {median_op(timed, 'op_wall'):.4f}s; "
                  f"cpu: op p50 {median_op(timed, 'op_cpu'):.4f}s", file=sys.stderr)
            for k in [k for k in self.metrics if k.startswith("host.")]:
                print(f"# {k} = {self.metrics.pop(k)[0]:.4f}", file=sys.stderr)
        else:
            del self.metrics["setup_s"]
            self.metric("session.start_s", self.session_start_s, "s")
            self.metric("session.warmup_pass_s", warmup_s, "s")
            self.metric("wall.pass_s", med(untraced, "wall"), "s")
            self.metric("wall.op_p50_s", median_op(untraced, "op_wall"), "s")
            self.metric("trace.pass_s", med(timed, "wall"), "s")
            self.metric("trace.overhead_s", med(timed, "wall") - med(untraced, "wall"), "s")
            self.layer_metrics()
        for f in self.failed:
            print(f"# FAILED {f}", file=sys.stderr)
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
        }

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)

    # ---- checks --------------------------------------------------
    def check(self) -> None:
        """Compare every timed result with DuckDB over the same parquet."""
        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute(f"SET temp_directory = '{os.path.abspath('duckdb_tmp')}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.data_dir, t)}.parquet')")
        if self.spec["kind"] == "keys":
            expected = {k: canon(con.execute(self.oracles[k]).df()) for k in self.spec["keys"]}
        else:
            ref = etl.reference(con)
            expected = {k: (v if isinstance(v, tuple) else canon(v)) for k, v in ref.items()}
        for pass_no, name, result in self.results:
            try:
                want = expected[name]
                if isinstance(want, tuple):
                    got = etl.readback(con, result, name)
                    ok = got == want
                else:
                    got = canon(result)
                    ok = list(got.columns) == list(want.columns) and got.equals(want)
            except Exception as e:  # noqa: BLE001
                ok, got = False, f"{type(e).__name__}: {e}"
            if not ok:
                self.failed.append(f"pass {pass_no} {name}: output differs from DuckDB")
        con.close()

    # ---- traced run: per-layer metrics --------------------------
    def layer_metrics(self) -> None:
        stats = tracing.event_log_stats(os.path.abspath("eventlog"))
        per_pass: dict[int, dict[str, float]] = {}
        spans = self.tracer.spans
        for s in spans:
            if s["name"] not in ("build", "plan", "run"):
                continue
            pass_no = int(s["job_group"].split("/", 1)[0][1:])
            m = per_pass.setdefault(pass_no, dict.fromkeys(LAYER_METRICS, 0.0))
            g = s["spark"] = stats.get(s["job_group"], {})
            layer = s["layer"]
            if s["name"] == "build":
                if layer == "registry":
                    m["registry.build_s"] += s["dur_s"]
                    m["registry.py4j_calls"] += s["py4j_calls"]
                    m["registry.build_jobs"] += g.get("jobs", 0)
                else:
                    m["plans.build_s" if layer == "plans" else "quality.audit_s"] += s["dur_s"]
            elif s["name"] == "plan":
                m["catalyst.plan_s"] += s["dur_s"]
            else:
                for k in ("job_s", "task_s", "tasks", "input_rows", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s"):
                    m[f"exec.{k}"] += g.get(k, 0.0)
                if s["sink"]:
                    m["writers.write_s"] += s["dur_s"]
                    m["writers.files"] += s["files"]
                    m["writers.mb"] += s["mb"]
                else:
                    m["fetch.s"] += max(s["dur_s"] - g.get("job_s", 0.0), 0.0)
            if layer == "quality" and s["name"] != "build":
                m["quality.audit_s"] += s["dur_s"]
            m["trace.layer_sum_s"] += s["dur_s"]
        self.tracer.dump(os.path.abspath("spans.json"))
        for name, unit in LAYER_METRICS.items():
            self.metric(name, statistics.median(p[name] for p in per_pass.values()), unit)


LAYER_METRICS = {
    "registry.build_s": "s", "registry.py4j_calls": "count", "registry.build_jobs": "count",
    "plans.build_s": "s", "catalyst.plan_s": "s",
    "exec.job_s": "s", "exec.task_s": "s", "exec.tasks": "count", "exec.input_rows": "count",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "fetch.s": "s", "quality.audit_s": "s",
    "writers.write_s": "s", "writers.files": "count", "writers.mb": "MB",
    "trace.layer_sum_s": "s",
}


def _dir_stats(path: str) -> tuple[int, float]:
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / tracing.MB


def main() -> int:
    workload, data_dir, seed, seconds, trace, result_path = sys.argv[1:7]
    result = Run(workload, data_dir, int(seed), float(seconds), trace == "1").run()
    with open(result_path, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
