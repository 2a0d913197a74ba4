"""spark-graft benchmark: registry queries over seeded tables, one
driver process on ``local[nproc]``.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run:

1. writes a seed-permuted copy of the sf0.01 tables in ``perfbench/data``
   under ``.perfbench_work/``;
2. starts the session, builds the workload's graph caches, spins up the
   Python worker pool and runs one warm-up pass that collects every
   query's output for the oracle check;
3. runs a fixed number of timed passes over the workload's query list,
   sized from ``--seconds``;
4. runs one more collecting pass, checks both collected outputs of each
   query against its DuckDB oracle twin, outside all timing, and prints
   one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1``.

perfbench/README.md explains the workloads, metrics and posture.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The project's sf0.01 test tables (15k orders, 60k lineitems, 10k
# events, 500 documents, 500 vectors); see README for the choice of scale.
DATA = os.path.join(HERE, "data")
DRIVER_MEM = "2g"  # also the initial heap size, so the heap never resizes
# Nominal seconds of one warm pass on a 4-core box: --seconds / PASS_S
# passes are timed, at least 3.
PASS_S = 4.0
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# name -> (queries, graph builders whose caches set-up warms, whether the
# queries run Python workers, whose pool set-up then starts)
WORKLOADS = {
    "graph_loops": (
        ["cc_cs", "lpa_cs"],
        ["customer_supplier_graph", "customer_supplier_undirected_graph"],
        False,
    ),
    "llm_pipeline": (
        ["pretrain_funnel", "ann_topk_lsh"],
        [],
        True,
    ),
}
CLK_TCK = os.sysconf("SC_CLK_TCK")
T_START = time.time()

# (metric, unit) printed with --trace 1; mirrored in BENCHMARK.json
PER_LAYER = [
    ("operators.calls", "count"), ("operators.supersteps", "count"),
    ("operators.self_s", "s"), ("operators.jobs", "count"), ("operators.barrier_s", "s"),
    ("library.calls", "count"), ("library.self_s", "s"), ("library.jobs", "count"),
    ("library.stages", "count"), ("library.tasks", "count"),
    ("library.shuffle_read_mb", "MB"), ("library.shuffle_write_mb", "MB"),
    ("library.executor_s", "s"), ("library.barrier_s", "s"),
    ("plans.local_checkpoints", "count"), ("plans.checkpoint_s", "s"),
    ("plans.releases", "count"),
    ("functions.calls", "count"), ("functions.self_s", "s"), ("functions.jobs", "count"),
    ("functions.stages", "count"), ("functions.executor_s", "s"),
    ("functions.shuffle_write_mb", "MB"), ("functions.spill_mb", "MB"),
    ("sources.calls", "count"), ("sources.build_s", "s"), ("sources.memo_hit_frac", "ratio"),
    ("sources.jobs", "count"), ("sources.shuffle_write_mb", "MB"),
    ("graph.calls", "count"), ("graph.self_s", "s"),
    ("registry.calls", "count"), ("registry.self_s", "s"), ("registry.leftover_rdds", "count"),
    ("action.s", "s"), ("action.jobs", "count"), ("action.executor_s", "s"),
    ("action.barrier_s", "s"),
    ("spark.jvm_gc_s", "s"), ("spark.failed_tasks", "count"),
    ("spark.sched_probe_ms", "ms"), ("trace.overhead_frac", "ratio"),
]


# -- process-tree accounting (/proc) -----------------------------------
def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_ticks(stat: str, fields: slice) -> int:
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[fields])


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(CPU of the tree without JIT compiler threads, CPU of those
    threads), user+system seconds. Process totals include exited threads
    and reaped children; compiler threads live as long as the JVM (their
    count is fixed with -XX:-UseDynamicNumberOfCompilerThreads)."""
    total = jit = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                total += _cpu_ticks(f.read(), slice(11, 15))
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/stat") as f:
                    stat = f.read()
                if "CompilerThre" in stat.split(")", 1)[0]:
                    jit += _cpu_ticks(stat, slice(11, 13))
        except OSError:
            continue
    return (total - jit) / CLK_TCK, jit / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    total_kb = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / CLK_TCK)


def log(msg: str) -> None:
    print(f"# {time.time() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def box_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole box, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# -- the run -------------------------------------------------------------
class Run:
    def __init__(self, args, work: str, cores: int):
        self.args = args
        self.work = work
        self.cores = cores
        self.queries, self.builders, self.python_workers = WORKLOADS[args.workload]
        self.pid = os.getpid()
        self.executions: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.outputs: dict[str, list] = {}  # query -> collected results
        self.tracer = None
        self.jit_s = 0.0  # JIT compiler CPU inside queries
        self.pass_jit_s: list[float] = []

    # session ---------------------------------------------------------
    def start_session(self) -> None:
        from flink_graph_spark import registry
        from flink_graph_spark.plans.session import get_spark, tune_session

        self.registry = registry
        registry.EXTERNAL_JVM_GC = True
        self.spark = get_spark("perfbench")
        tune_session(self.spark)
        self.jsc = self.spark.sparkContext._jsc
        self.keep: set[int] = set()

    def jvm_gc_s(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0

    def persistent_rdds(self) -> set[int]:
        return set(self.jsc.getPersistentRDDs().keySet().toArray())

    def evict_scratch(self) -> None:
        jmap = self.jsc.getPersistentRDDs()
        for rid in jmap.keySet().toArray():
            if rid not in self.keep:
                jmap.get(rid).unpersist(False)

    def sched_probe_ms(self) -> float:
        """ms per JVM-only no-op job (median of 5): no Python worker."""
        samples = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(0, 4 * self.cores, 1, self.cores).write.format(
                "noop").mode("overwrite").save()
            samples.append((time.perf_counter() - t0) * 1000.0)
        return statistics.median(samples)

    # inputs and caches ------------------------------------------------
    def build_caches(self, d: str) -> None:
        """Build and materialize the workload's memoized graph caches."""
        from flink_graph_spark.sources import graphs

        for b in self.builders:
            g = getattr(graphs, b)(self.spark, d)
            g.edges.write.format("noop").mode("overwrite").save()
            g.vertices.write.format("noop").mode("overwrite").save()

    # one query / one pass ---------------------------------------------
    def _run_query(self, name: str, d: str, collect: bool) -> tuple[float, float]:
        reg = self.registry
        fn = reg.SPARK_QUERIES[name]
        before = self.persistent_rdds()
        gc0 = self.jvm_gc_s() if self.tracer else 0.0
        c0, j0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.span("registry", name):
                    df = fn(self.spark, d)
                with self.tracer.span("action", name):
                    df.write.format("noop").mode("overwrite").save()
            elif collect:
                self.outputs.setdefault(name, []).append(fn(self.spark, d).toPandas())
            else:
                fn(self.spark, d).write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is reported, never dropped
            print(f"# FAIL {name}: {e!r}"[:400], file=sys.stderr)
            self.failed[name] = self.failed.get(name, 0) + 1
        wall = time.perf_counter() - t0
        c1, j1 = tree_cpu_s(self.pid)
        self.jit_s += j1 - j0
        self.executions[name] = self.executions.get(name, 0) + 1
        if self.tracer:
            c = self.tracer.counts
            c["spark.jvm_gc_s"] += self.jvm_gc_s() - gc0
            c["registry.leftover_rdds"] += len(self.persistent_rdds() - before - self.keep)
        self.evict_scratch()
        gc.collect()
        reg.jvm_gc(self.spark, 0)
        return wall, c1 - c0

    def run_pass(self, i: int, collect: bool = False) -> tuple[float, float]:
        d = self.data_dir
        wall = cpu = 0.0
        jit0 = self.jit_s
        per_query = []
        for q in self.queries:
            w, c = self._run_query(q, d, collect)
            wall += w
            cpu += c
            per_query.append(round(w, 2))
        self.pass_jit_s.append(self.jit_s - jit0)
        log(f"pass {i} wall {wall:.3f}s cpu {cpu:.3f}s jit {self.pass_jit_s[-1]:.3f}s"
            f"{' traced' if self.tracer else ''} {per_query}")
        return wall, cpu

    # oracle check ------------------------------------------------------
    def check(self, d: str) -> dict[str, bool]:
        """Compare every collected output with its DuckDB twin over ``d``;
        a query passes only if all its collected outputs match."""
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py"))
        cc = importlib.util.module_from_spec(spec)
        saved = list(sys.path)
        spec.loader.exec_module(cc)
        sys.path[:] = saved
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        oracles = self.registry.ORACLE_SQL
        ok = {}
        for name, sdfs in self.outputs.items():
            try:
                o_c = cc.canonicalize(con.sql(oracles[name]).df())
                ok[name] = True
                for sdf in sdfs:
                    s_c = cc.canonicalize(sdf)
                    ok[name] = ok[name] and (list(s_c.columns) == list(o_c.columns)
                                             and len(s_c) == len(o_c)
                                             and cc.value_hash(s_c) == cc.value_hash(o_c))
            except Exception as e:
                print(f"# CHECK ERROR {name}: {e!r}"[:400], file=sys.stderr)
                ok[name] = False
            if not ok[name]:
                print(f"# MISMATCH {name}", file=sys.stderr)
        con.close()
        return ok


def write_permuted(out_dir: str, seed: int) -> str:
    """Write every table of ``DATA`` to ``out_dir`` with its rows in a
    ``seed``-drawn order, split into a ``seed``-drawn number of row
    groups. All seeds see the same rows, so results must not change."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tbl = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        perm = rng.permutation(tbl.num_rows)
        row_group = max(1, tbl.num_rows // int(rng.integers(1, 5)))
        pq.write_table(tbl.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=row_group)
    return out_dir


def stop(run: Run) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    spark = getattr(run, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in _tree(run.pid) if p != run.pid]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except Exception:
            proc.kill()
            proc.wait(10)
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        if children:
            time.sleep(0.2)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("flink_graph_spark", "__spark_entry__.py",
                 os.path.join("tools", "check_correctness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    global T_START
    T_START = t_start = process_start_time()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}"
            " -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]

    run = Run(args, work, cores)
    try:
        t = time.perf_counter()
        run.data_dir = write_permuted(os.path.join(work, "in"), args.seed)
        datagen_s = time.perf_counter() - t
        log("inputs written")
        run.start_session()
        log("session started")
        return measure(run, args, t_start + datagen_s)
    finally:
        stop(run)
        log("stopped")
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(run: Run, args, t_start: float) -> int:
    """Set up, time the passes, check and print. ``t_start`` is the
    process start moved later by the time spent writing the inputs, so
    ``setup_s`` leaves out the benchmark's own data preparation."""
    box = {"loadavg_before": loadavg()}
    run.build_caches(run.data_dir)
    run.keep = run.persistent_rdds()
    log("caches built")
    if run.python_workers:
        run.spark.range(0, 4 * run.cores, 1, 4 * run.cores).mapInPandas(
            lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()
        log("worker pool up")
    run.run_pass(0, collect=True)
    setup_s = time.time() - t_start
    box["sched_probe_ms_before"] = run.sched_probe_ms()
    log("set-up done, box probed")

    # The pass count follows from --seconds and the nominal pass time, not
    # from the clock: passes keep getting faster as the JIT warms, so a
    # count that varied with box speed would move the median pass.
    n_passes = max(3, round(args.seconds / PASS_S))
    walls, cpus, traced_walls, untraced_walls = [], [], [], []
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(run.spark, run.cores)
    steal0 = box_steal_ticks()
    for i in range(1, 1 + n_passes):
        traced = tracer is not None and i % 2 == 1
        if traced:
            run.tracer = tracer
            tracer.install()
        wall, cpu = run.run_pass(i)
        if traced:
            tracer.uninstall()
            run.tracer = None
            traced_walls.append(wall)
        else:
            untraced_walls.append(wall)
        walls.append(wall)
        cpus.append(cpu)
    peak_rss = tree_peak_rss_mb(run.pid)
    steal1 = box_steal_ticks()
    box["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    box["sched_probe_ms_after"] = run.sched_probe_ms()
    box["loadavg_after"] = loadavg()
    log("timed window done")
    # a second checked output per query, from after the window, so wrong
    # results from state carried across passes fail the query too
    run.run_pass(1 + n_passes, collect=True)
    ok = run.check(run.data_dir)
    log("oracle check done")
    # an execution fails if it raised, or if its query's checked output
    # differs from the oracle's
    bad = sorted(q for q in run.executions if not ok.get(q, False) or q in run.failed)
    attempted = sum(run.executions.values())
    failed_execs = sum(run.executions[q] if not ok.get(q, False) else run.failed.get(q, 0)
                       for q in run.executions)

    if tracer is not None:
        m = tracer.collect(len(traced_walls))
        m["sources.build_s"] = m.get("sources.self_s", 0.0)
        m["spark.sched_probe_ms"] = (box["sched_probe_ms_before"] + box["sched_probe_ms_after"]) / 2
        m["trace.overhead_frac"] = (statistics.median(traced_walls)
                                    / statistics.median(untraced_walls) - 1.0)
        metrics = {k: {"value": m.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "pass_frac": {"value": (attempted - failed_execs) / attempted, "unit": "ratio"},
        }
    box.update(workload=args.workload, seed=args.seed, cores=run.cores,
               driver_mem=DRIVER_MEM, passes=len(walls),
               walls=[round(w, 3) for w in walls], cpus=[round(c, 3) for c in cpus],
               jit_cpus=[round(j, 3) for j in run.pass_jit_s[1:1 + n_passes]],
               failing=bad)
    print("# box " + json.dumps(box))
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed_execs, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
