"""The repository's benchmark: one workload of declared ops, run in a
closed loop (each op waits for the previous one) on ``local[nproc]``
from one driver process and thread.

    python3 perfbench/run.py --workload routing_olap --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  Everything a run writes (gram-index
root, temp, checkpoints, warehouse, Spark local dirs) lives in a private
directory under the checkout that is deleted at exit; only a traced run
leaves its span file (``--spans``).

Phases, in order:

1. start: import pyspark and the package, ``get_spark``,
   ``registry.load_all`` and warm the table listing.  ``setup_s`` is the
   time from process start until then: one whole start per run, JVM
   launch included (about 13 s on 4 cores, so a run cannot afford more).
2. cold pass: every op once, timed.  Each op's result is then checked
   against its DuckDB oracle outside the timed region.
3. warm-up passes, untimed: as many as fit in ``WARMUP_SHARE`` times
   ``--seconds`` at the workload's nominal pass length.
4. steady passes: as many as fill ``--seconds`` at the nominal pass
   length, at least one (two when traced).

Pass counts come from the nominal length, not from the clock, so a slow
pass on a busy host cannot change how many passes a run makes and which
passes its medians cover.  No affordable run reaches a flat curve: on 4
cores the ops still speed up 5-15 % per pass after five passes (JIT), so
the steady passes are the same early-warm passes in every run.

Every pass runs the ops in a fresh order drawn from ``--seed``.  A JVM
and a Python GC run between passes, outside the timed region.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s``: time from process start (JVM launch and the pyspark
  import included) until ready;
* ``cold_pass_s``: the cold pass (sum of its ops' build + noop write);
* ``pass_s``: median steady pass;
* ``op_geomean_s``: geometric mean over ops of each op's median steady
  time, so a fixed per-query cost weighs as much on a short op as on a
  long one;
* ``pass_cpu_s``: median steady-pass CPU of the driver, the JVM and its
  Python workers (JIT compilation included; each pass line prints the
  JIT's share separately);
* ``retained_mb``: JVM heap in use after the steady passes, once forced
  full GCs stop shrinking it;
* ``ok_share``: share of op runs that neither raised nor failed the
  oracle check (never 0, unlike a failure share, so it can carry a bound).

``--trace 1`` alternates plain and traced steady passes, prints the
per-layer metrics of ``tracing.PER_LAYER_UNITS`` (medians over traced
passes) and the tracing overhead, and writes the spans.  The last line of
stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import importlib.util
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402

PKG = "etl_rf_matrix_controller_spark"
DATA = "sf0.01"
SMOKE_DATA = "sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
WARMUP_SHARE = 0.5
DRIVER_MEM = "3g"
MB = 1024.0 * 1024.0
CLK_TCK = os.sysconf("SC_CLK_TCK")

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "pass_cpu_s": "s",
    "retained_mb": "MB",
    "ok_share": "1",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def process_age() -> float:
    """Seconds since this process started, to the clock tick."""
    with open("/proc/self/stat") as fh:
        s = fh.read()
    # field 22, starttime: clock ticks after boot
    started = int(s[s.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started / CLK_TCK


def proc_tree() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime jiffies) of every process."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        f = s[s.rindex(")") + 2:].split()
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return procs


def descendants(root: int, procs: dict[int, tuple[int, int]]) -> set[int]:
    tree, grew = {root}, True
    while grew:
        new = {p for p, (pp, _) in procs.items() if pp in tree} - tree
        tree |= new
        grew = bool(new)
    return tree


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / MB


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class RunDirs:
    """The run's private dirs under the checkout, removed by ``close``."""

    def __init__(self) -> None:
        self.base = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
        for sub in ("index", "tmp", "warehouse", "local"):
            os.makedirs(os.path.join(self.base, sub))

    def sub(self, name: str) -> str:
        return os.path.join(self.base, name)

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


class Bench:
    def __init__(self, args, dirs: RunDirs) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.dirs = dirs
        self.data_dir = os.path.join(HERE, "data",
                                     SMOKE_DATA if args.smoke else DATA)
        self.rng = random.Random(args.seed)
        self.cores = nproc()
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.index_gen = 0
        self.tracer = self.status = self.listener = None
        self._isolate()

    # -- isolation and session ------------------------------------------

    def _isolate(self) -> None:
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_INDEX_DIR": self.dirs.sub("index/0"),
            "SPARK_LOCAL_DIRS": self.dirs.sub("local"),
            "TMPDIR": self.dirs.sub("tmp"),
            # no JVM of the run (launcher or driver) writes /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        })
        tempfile.tempdir = None  # re-read TMPDIR
        self.confs = {
            "spark.sql.warehouse.dir": self.dirs.sub("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.dirs.sub('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.confs.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })

    def start(self) -> None:
        """Start the session.  Records the seconds from process start until
        ready (``setup_s``) and the wall time of ``get_spark``."""
        from etl_rf_matrix_controller_spark import session
        from etl_rf_matrix_controller_spark.plans import registry

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload.name}",
            extra_confs=self.confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t0
        registry.load_all()
        self.spark.read.parquet(f"{self.data_dir}/lineitem.parquet").count()
        self.setup_s = process_age()
        self.registry = registry
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.jit = (self.spark._jvm.java.lang.management.ManagementFactory
                    .getCompilationMXBean())

    def _attach_tracing(self) -> None:
        import tracing

        self.tracer = tracing.Tracer()
        gram_index = importlib.import_module(f"{PKG}.plans.gram_index")
        for attr, name in tracing.GRAM_INDEX_WRAPPED.items():
            self.tracer.wrap(gram_index, attr, name)
        self.status = tracing.SparkStatus(self.spark)
        self.listener = tracing.ProgressLog()
        self.spark.streams.addListener(self.listener)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        run started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception as exc:  # noqa: BLE001 -- the JVM still goes
            print(f"session stop failed: {exc}", file=sys.stderr)
        gw = SparkContext._gateway
        if gw is None:
            return
        kids = descendants(gw.proc.pid, proc_tree()) - {gw.proc.pid}
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 10
        while kids and time.monotonic() < deadline:
            kids &= set(proc_tree())
            time.sleep(0.1)
        for pid in kids:
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    # -- measurements -----------------------------------------------------

    def cpu_s(self) -> float:
        """CPU seconds so far of the driver, the JVM and its workers."""
        procs = proc_tree()
        ticks = sum(procs[p][1] for p in descendants(self.jvm_pid, procs)
                    if p in procs)
        t = os.times()
        return ticks / CLK_TCK + t.user + t.system

    def jit_s(self) -> float:
        """The JVM's accumulated JIT compilation time (elapsed, not CPU)."""
        return self.jit.getTotalCompilationTime() / 1e3

    def collect_garbage(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()

    def retained_mb(self) -> float:
        """Heap in use once forced full GCs stop shrinking it: Spark's
        context cleaner drops checkpoint and shuffle blocks only after a
        GC has found their owners unreachable, on its own thread."""
        heap = (self.spark._jvm.java.lang.management.ManagementFactory
                .getMemoryMXBean())
        used = math.inf
        for _ in range(10):
            self.collect_garbage()
            now = heap.getHeapMemoryUsage().getUsed()
            if now > 0.99 * used:
                break
            used = now
            time.sleep(0.2)
        return min(now, used) / MB

    # -- passes -----------------------------------------------------------

    def fresh_index_root(self) -> None:
        """New gram-index root, no gram_idx_* tables in the catalog, so
        every pass that uses the index builds and writes it again."""
        shutil.rmtree(self.dirs.sub(f"index/{self.index_gen}"),
                      ignore_errors=True)
        self.index_gen += 1
        os.environ["SPARK_GRAFT_INDEX_DIR"] = self.dirs.sub(
            f"index/{self.index_gen}")
        for t in self.spark.catalog.listTables():
            if t.name.startswith("gram_idx_"):
                self.spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")

    def run_op(self, name: str, traced: bool):
        """Build and force one op; return (timed seconds, DataFrame)."""
        fn = self.registry.QUERIES[name]
        if not traced:
            t0 = time.perf_counter()
            df = fn(self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, df
        tr, st = self.tracer, self.status
        self.spark.sparkContext.setJobGroup(name, name)
        j0 = st.next_job_id()
        t0 = time.perf_counter()
        with tr.span("op", op=name):
            with tr.span("operators.build"):
                df = fn(self.spark, self.data_dir)
            j1 = st.next_job_id()
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("exec.run"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        self.op_jobs.append((j0, j1, st.next_job_id()))
        return wall, df

    def run_pass(self, phase: str, traced: bool = False, check=None) -> dict:
        self.fresh_index_root()
        self.collect_garbage()
        order = self.rng.sample(self.workload.ops, len(self.workload.ops))
        self.op_jobs: list[tuple[int, int, int]] = []
        n_spans = len(self.tracer.spans) if self.tracer else 0
        if traced:  # progress of earlier passes is not this pass's
            self.status.settle()
            self.listener.drain()
        disk0 = dir_mb(self.dirs.base)
        steal0, total0 = host_cpu()
        cpu0, jit0 = self.cpu_s(), self.jit_s()
        op_s: dict[str, float] = {}
        ctx = self.tracer.span(f"pass.{phase}") if traced else nullcontext()
        with ctx:
            for name in order:
                self.attempted += 1
                try:
                    op_s[name], df = self.run_op(name, traced)
                    if check is not None:
                        check(name, df)
                except Exception as exc:  # noqa: BLE001 -- counted, reported
                    self.failed += 1
                    print(f"FAILED {phase} {name}: {type(exc).__name__}: "
                          f"{str(exc)[:400]}", file=sys.stderr, flush=True)
                finally:
                    self.spark.catalog.clearCache()
        steal1, total1 = host_cpu()
        rec = {
            "phase": phase,
            "traced": traced,
            "wall_s": sum(op_s.values()),
            "op_s": op_s,
            "cpu_s": self.cpu_s() - cpu0,
            "jit_s": self.jit_s() - jit0,
            "disk_mb": dir_mb(self.dirs.base) - disk0,
            "load1": os.getloadavg()[0],
            "steal": (steal1 - steal0) / max(total1 - total0, 1),
        }
        if traced:
            rec["layers"] = self.layer_metrics(rec, n_spans)
        print(f"pass {phase}{' traced' if traced else ''}: "
              f"wall={rec['wall_s']:.3f}s cpu={rec['cpu_s']:.2f}s "
              f"jit={rec['jit_s']:.2f}s "
              f"disk={rec['disk_mb']:.2f}MB nproc={self.cores} "
              f"load1={rec['load1']:.2f} steal={rec['steal']:.4f}\n  ops: "
              + " ".join(f"{k}={v:.3f}" for k, v in op_s.items()),
              flush=True)
        return rec

    def layer_metrics(self, rec: dict, n_spans: int) -> dict[str, float]:
        import tracing

        tr = self.tracer
        self.status.settle()
        ex = self.status.exec_metrics([(a, c) for a, _, c in self.op_jobs])
        build = tr.sum_s("operators.build", n_spans)
        plan = tr.sum_s("catalyst.plan", n_spans)
        run = tr.sum_s("exec.run", n_spans)
        index_mb, legs = tracing.index_on_disk(
            os.environ["SPARK_GRAFT_INDEX_DIR"])
        return {
            "operators.build_s": build,
            "operators.eager_jobs": sum(b - a for a, b, _ in self.op_jobs),
            "catalyst.plan_s": plan,
            "exec.run_s": run,
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.task_run_s": ex["run_s"],
            "exec.task_cpu_s": ex["cpu_s"],
            "exec.gc_s": ex["gc_s"],
            "exec.busy_share": ex["run_s"] / max(
                (build + plan + run) * self.cores, 1e-9),
            "exec.shuffle_write_mb": ex["shuffle_write_mb"],
            "exec.shuffle_read_mb": ex["shuffle_read_mb"],
            "exec.spill_mb": ex["spill_mb"],
            "sources.input_mb": ex["input_mb"],
            "sources.input_rows": ex["input_rows"],
            "gram_index.append_s": tr.sum_s("gram_index.append", n_spans),
            "gram_index.compact_s": tr.sum_s("gram_index.compact", n_spans),
            "gram_index.written_mb": index_mb,
            "gram_index.legs": legs,
            **tracing.streaming_metrics(self.listener.drain()),
            "disk.left_mb": rec["disk_mb"],
        }

    # -- output check -----------------------------------------------------

    def make_checker(self, con):
        """Compare an op's result with its DuckDB oracle, using the same
        comparison as the repository's correctness gate."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from conftest import assert_oracle_match

        oracles = self.registry.ORACLES

        def check(name: str, df) -> None:
            if name not in oracles:
                raise LookupError(f"{name} has no oracle to check against")
            assert_oracle_match(df, con, oracles[name], name=name)

        return check

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        import duckdb

        self.start()
        print(f"start: ready={self.setup_s:.3f}s "
              f"get_spark={self.get_spark_s:.3f}s", flush=True)
        if self.args.trace:
            self._attach_tracing()
        with duckdb.connect() as con:
            con.execute(f"SET temp_directory = '{self.dirs.sub('tmp')}'")
            con.execute("SET memory_limit = '1GB'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data_dir}/{t}.parquet')")
            cold = self.run_pass("cold", check=self.make_checker(con))

        nominal = self.workload.nominal_pass_s
        n_warm = int(WARMUP_SHARE * self.args.seconds / nominal)
        n_steady = max(1, round(self.args.seconds / nominal))
        if self.args.smoke:
            n_warm, n_steady = 0, 1
        for _ in range(n_warm):
            self.run_pass("warmup")

        steady: list[dict] = []
        for i in range(max(n_steady, 2) if self.args.trace else n_steady):
            # plain, traced, traced, plain, ...: both kinds sit equally
            # early and late in the steady phase
            traced = bool(self.args.trace) and i % 4 in (1, 2)
            steady.append(self.run_pass("steady", traced=traced))

        if self.args.trace:
            return self.per_layer(steady)
        plain = [r for r in steady if not r["traced"]]
        per_op = {
            name: statistics.median(r["op_s"][name] for r in plain
                                    if name in r["op_s"])
            for name in self.workload.ops
            if any(name in r["op_s"] for r in plain)
        }
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": cold["wall_s"],
            "pass_s": statistics.median(r["wall_s"] for r in plain),
            "op_geomean_s": geomean(list(per_op.values())),
            "pass_cpu_s": statistics.median(r["cpu_s"] for r in plain),
            "retained_mb": self.retained_mb(),
            "ok_share": 1.0 - self.failed / self.attempted,
        }

    def per_layer(self, steady: list[dict]) -> dict[str, float]:
        import tracing

        traced = [r for r in steady if r["traced"]]
        plain = [r for r in steady if not r["traced"]]
        out = {
            k: statistics.median(r["layers"][k] for r in traced)
            for k in traced[0]["layers"]
        }
        out["session.start_s"] = self.get_spark_s
        out["trace.overhead"] = (
            statistics.median(r["wall_s"] for r in traced)
            / statistics.median(r["wall_s"] for r in plain))
        spans = self.args.spans or os.path.join(
            ROOT, "perfbench-out",
            f"spans-{self.workload.name}-seed{self.args.seed}.json")
        self.tracer.write(spans, {"workload": self.workload.name,
                                  "seed": self.args.seed})
        print(f"spans: {spans} ({len(self.tracer.spans)} spans)")
        return {k: out[k] for k in tracing.PER_LAYER_UNITS}


def parse_args(argv: list[str]):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="span file of a traced run (default: "
                   "perfbench-out/spans-<workload>-seed<seed>.json)")
    p.add_argument("--smoke", action="store_true",
                   help="self-test size: sf0.001 data, no warm-up, one "
                   "steady pass (two when traced)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # fail before any work in a directory without the program or its data
    if importlib.util.find_spec(PKG) is None:
        raise SystemExit(f"{PKG} is not importable from {ROOT}")
    data = os.path.join(HERE, "data", SMOKE_DATA if args.smoke else DATA)
    missing = [t for t in TABLES
               if not os.path.isfile(f"{data}/{t}.parquet")]
    if missing:
        raise SystemExit(f"missing input tables in {data}: {missing}")

    # a terminated run still stops its JVM and removes its private dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    dirs = RunDirs()
    bench = None
    try:
        bench = Bench(args, dirs)
        print(f"workload={args.workload} seed={args.seed} nproc={bench.cores}"
              f" data={os.path.relpath(bench.data_dir, ROOT)}", flush=True)
        values = bench.run()
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            dirs.close()

    if args.trace:
        import tracing

        units = tracing.PER_LAYER_UNITS
    else:
        units = E2E_UNITS
    for k, v in values.items():
        print(f"metric {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
