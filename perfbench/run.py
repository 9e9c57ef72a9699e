#!/usr/bin/env python3
"""Closed-loop benchmark of the pyspark_caffe_spark engine.

    python3 perfbench/run.py --workload relational_sf0.1 --seed 1 --seconds 15 --trace 0

One client, one Spark session: the driver thread runs the workload's
operators one after another, each as ``QUERIES[key](spark, data_dir)``
written through Spark's ``noop`` sink.  The seed shuffles the operator
order of every pass.  The inputs are the same on every run
(``datagen.py``).

A run has two phases:

* set-up (``setup_s``): ``get_spark``, a first job, and one warm-up pass
  that is also the output check: it builds every operator and collects
  its rows, and compares them, untimed, with the operator's DuckDB
  oracle (``ORACLES[key]``) over the same parquet through the
  normalisation of ``tests/parity.py``;
* measurement: whole passes within ``--seconds``, at least one.

``--trace 0`` prints ``setup_s`` and the work of a pass as Spark's
status store counts it: jobs, tasks and shuffle bytes, the median over
the passes.  Why no pass time among them: on a 4-vCPU VM of a shared
host, other tenants slow a whole run at a time, by up to half, and the
passes after the warm-up keep getting faster while the JVM compiles
Spark's planner.  Over ten runs of each workload the fastest pass of a
run spread 0.29 (relational) and 0.24 (LLM) between runs, the median
pass more, and executor CPU seconds as much, so no time can hold a bound
tighter than a quarter.  The counts repeat exactly and move only when
the program changes the work it gives Spark.  Pass times stay in the
per-layer metrics (``pass.best_s``, ``pass.median_s``) and in the
``meta`` line.

Why two executor cores (``MAX_CPUS``): the driver thread, the JVM's
compiler and GC threads, and the Python workers of the pandas UDFs run
beside the executor threads, and at ``local[4]`` they oversubscribe a
4-vCPU machine; an LLM pass took no longer at ``local[2]`` (3.3 s on a
quiet host at either).  The task counts follow the core count, which is
pinned so that they are the same on every machine with two cores or
more.

Why so few operators per workload: a run is kept to about a minute, and
set-up (JVM start, first job, warm-up pass, output check) takes half of
it; the workloads keep the operators with the cheapest first runs that
still reach every layer listed in ``LAYER_TARGETS``.

``--trace 1`` traces the measured passes and prints per-layer metrics
instead: calls into each layer's public functions, timed from the
benchmark side (``spans.py``), and each operator's Spark stage metrics,
all per pass, with the pass times and the peak memory of the Spark
processes sampled by ``pss.py``.  The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.

Inputs are generated into ``.perfbench/`` in the checkout; Spark's local
dirs, temp files and span dumps go there too.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)  # the package and tests/parity.py

import datagen  # noqa: E402
import duckdb  # noqa: E402
import spans  # noqa: E402
from pyspark_caffe_spark import get_spark  # noqa: E402
from pyspark_caffe_spark.queries import ORACLES, QUERIES  # noqa: E402
from pyspark_caffe_spark.tables import TABLE_NAMES  # noqa: E402
from tests.parity import assert_type_parity, duck_result, normalize_result, spark_result  # noqa: E402

RELATIONAL_OPS = (
    "agg_hash_groupby", "join_multiway", "win_rank_topk", "agg_q6_selective", "fn_map_json",
    "topk_global",
)
LLM_OPS = ("text_tfidf", "pipeline_training_snapshot", "sim_optimizer_rewrite", "ml_model_apply")
WORKLOADS = {  # name -> (scale factor, operators)
    "relational_sf0.1": (0.1, RELATIONAL_OPS),
    "llm_ingest_sf0.1": (0.1, LLM_OPS),
}
SMOKE_SF = 0.001
MAX_CPUS = 2  # executor cores; see the module docstring

QUERY_MODULES = ("relational", "aggregates", "joins", "windows", "functions", "llm", "similarity", "ml")
# (metric prefix, module, functions traced; None means every public one)
LAYER_TARGETS = (
    ("tables.load_table", "tables", ("load_table",)),
    ("textops", "textops", None),
    ("vecops", "vecops", None),
    ("model", "model", None),
    ("optimizer.rewrite_similarity_join", "optimizer",
     ("rewrite_similarity_join", "try_rewrite_similarity_join")),
)


def pass_orders(ops: tuple[str, ...], seed: int):
    """Yield one operator order per pass, shuffled from ``seed``."""
    rng = random.Random(seed)
    while True:
        order = list(ops)
        rng.shuffle(order)
        yield order


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    summed over its CPUs; a rise during a pass means other tenants slowed
    it."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the package from it."""
    tmp = os.path.join(STATE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what earlier runs' JVMs left behind
    os.makedirs(tmp)
    os.chdir(ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class PssSampler:
    """Runs ``pss.py`` on the Spark JVM's process tree for the length of
    a ``with`` block, in a process of its own, and keeps its peak PSS,
    sample count and CPU seconds."""

    def __init__(self, root_pid: int, interval: float = 0.5) -> None:
        self._cmd = [sys.executable, os.path.join(HERE, "pss.py"), str(root_pid), str(interval)]
        self._proc: subprocess.Popen | None = None
        self.peak_bytes = 0
        self.samples = 0
        self.cpu_s = 0.0

    def __enter__(self) -> "PssSampler":
        self._proc = subprocess.Popen(self._cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=60)  # closes its stdin: it stops
        peak, samples, cpu = out.split()[-3:]
        self.peak_bytes, self.samples, self.cpu_s = int(peak), int(samples), float(cpu)


class Bench:
    """One run: the inputs, the Spark session and the DuckDB oracle
    connection, and the operator counts."""

    def __init__(self, args) -> None:
        self.args = args
        sf, self.ops = WORKLOADS[args.workload]
        if args.smoke:
            sf = SMOKE_SF
        missing = [k for k in self.ops if k not in ORACLES]
        if missing:
            raise SystemExit(f"operators without an oracle: {missing}")
        self.cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
        self.attempted = 0
        self.failed = 0
        self.warm_up_op_s: dict[str, tuple[float, float]] = {}  # key -> (Spark s, comparison s)
        self.orders = pass_orders(self.ops, args.seed)
        self.recorder: spans.Recorder | None = None
        self.stages: spans.StageReader | None = None

        self.data_dir = os.path.join(STATE, "data", f"sf{sf:g}")
        t = time.perf_counter()
        self.data_generated = datagen.ensure(self.data_dir, sf)
        self.data_s = time.perf_counter() - t

        self.duck = duckdb.connect(config={"temp_directory": os.path.join(STATE, "tmp")})
        for name in TABLE_NAMES:
            path = os.path.join(self.data_dir, f"{name}.parquet")
            self.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.get_spark_s, self.first_job_s = t1 - t0, time.perf_counter() - t1
        self.stages = spans.StageReader(self.spark)

    def close(self) -> None:
        """Stop Spark and wait for its JVM, and with it the Python
        workers, to exit; the JVM exits when its stdin closes."""
        jvm = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        jvm.stdin.close()
        jvm.wait(timeout=120)
        self.duck.close()

    def run_op(self, key: str, collect: bool = False):
        """Build and run one operator; return ``(df, rows, build_s,
        execute_s)``, or None if it raised (counted as failed)."""
        self.attempted += 1
        sc = self.spark.sparkContext
        sc.setJobDescription(f"op:{key}")
        try:
            t0 = time.perf_counter()
            df = QUERIES[key](self.spark, self.data_dir)
            t1 = time.perf_counter()
            if collect:
                rows = spark_result(df)
            else:
                rows = None
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            self.failed += 1
            print(f"[{key}] raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            sc.setJobDescription(None)
        return df, rows, t1 - t0, t2 - t1

    def check(self, key: str, df, spark_rows) -> bool:
        """Compare collected rows with the DuckDB oracle."""
        sql = ORACLES[key]
        s_cols, s_rows = spark_rows
        d_cols, d_rows = duck_result(self.duck, sql)
        try:
            if sorted(s_cols) != sorted(d_cols):
                raise AssertionError(f"columns {sorted(s_cols)} != {sorted(d_cols)}")
            assert_type_parity(df, self.duck, sql, key)
            if normalize_result(s_cols, s_rows) != normalize_result(d_cols, d_rows):
                raise AssertionError(f"{len(s_rows)} spark rows differ from {len(d_rows)} oracle rows")
        except AssertionError as ex:
            self.failed += 1
            print(f"[{key}] output check failed: {ex}", file=sys.stderr)
            return False
        return True

    def warm_up_and_check(self) -> tuple[float, int]:
        """The warm-up pass: collect each operator's rows and compare them
        with its oracle; return the pass's seconds without the
        comparisons, and the number of outputs that matched."""
        spark_s, matched = 0.0, 0
        for key in next(self.orders):
            t0 = time.perf_counter()
            res = self.run_op(key, collect=True)
            t1 = time.perf_counter()
            if res is not None:
                matched += self.check(key, res[0], res[1])
            spark_s += t1 - t0
            self.warm_up_op_s[key] = (round(t1 - t0, 3), round(time.perf_counter() - t1, 3))
        return spark_s, matched

    def measure(self, traced: bool) -> list[dict]:
        """Whole passes within ``--seconds``, at least one: a pass starts
        only if one as long as the last still ends in time."""
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start + passes[-1]["wall_s"] <= self.args.seconds:
            steal0 = steal_s()
            passes.append(self.one_pass(traced))
            passes[-1]["steal_s"] = steal_s() - steal0
        return passes

    def one_pass(self, traced: bool) -> dict:
        rec = self.recorder
        record = {"order": next(self.orders), "ops": []}
        if traced:
            rec.enabled = True
        else:
            mark = self.stages.mark()
        t0 = time.perf_counter()
        for key in record["order"]:
            module = QUERIES[key].__module__.rsplit(".", 1)[1]
            if traced:
                rec.request = f"{key}#{self.attempted}"
                op_mark = self.stages.mark()
                with rec.span(f"queries.{module}", key):
                    res = self.run_op(key)
                stages = self.stages.since(op_mark)
            else:
                res = self.run_op(key)
            if res is None:
                continue
            op = {"key": key, "module": module, "build_s": res[2], "execute_s": res[3]}
            if traced:
                op.update(stages)
            record["ops"].append(op)
        record["wall_s"] = time.perf_counter() - t0
        if traced:
            rec.enabled = False
        else:
            record["stages"] = self.stages.since(mark)
        return record

    def enable_tracing(self) -> None:
        self.recorder = spans.Recorder()
        targets = []
        for prefix, mod_name, names in LAYER_TARGETS:
            module = importlib.import_module(f"pyspark_caffe_spark.{mod_name}")
            targets.append((prefix, module, list(names or spans.public_functions(module))))
        spans.instrument(self.recorder, targets)

    def meta(self) -> dict:
        """What identifies the run, so runs on different boxes or
        settings are not confused."""
        sc = self.spark.sparkContext
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "smoke": self.args.smoke,
            "cpus": self.cpus,
            "nproc": os.cpu_count(),
            "master": sc.master,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "pyspark": sc.version,
            "python": platform.python_version(),
            "data_dir": os.path.relpath(self.data_dir, ROOT),
            "data_seed": datagen.SEED,
            "data_generated": self.data_generated,
            "data_s": round(self.data_s, 3),
            "get_spark_s": round(self.get_spark_s, 3),
            "first_job_s": round(self.first_job_s, 3),
            "operators": list(self.ops),
        }


def end_to_end(setup_s: float, passes: list[dict]) -> tuple[dict, dict]:
    """Set-up time, and the work of one pass as Spark counts it: jobs and
    tasks scheduled, and bytes shuffled."""
    def per_pass(field: str) -> float:
        return float(statistics.median(p["stages"][field] for p in passes))

    metrics = {
        "setup_s": (setup_s, "s"),
        "jobs_per_pass": (per_pass("jobs"), "count"),
        "tasks_per_pass": (per_pass("tasks"), "count"),
        "shuffle_write_bytes_per_pass": (per_pass("shuffle_write_bytes"), "B"),
    }
    return metrics, {name: (1 if name == "setup_s" else len(passes)) for name in metrics}


def per_layer(bench: Bench, passes: list[dict], pss: PssSampler) -> tuple[dict, dict]:
    """Per-layer metrics of the traced passes, each summed over them and
    divided by their number."""
    n = len(passes)
    rec = bench.recorder
    walls = [p["wall_s"] for p in passes]
    metrics = {
        "session.get_spark_s": (bench.get_spark_s, "s"),
        "session.first_job_s": (bench.first_job_s, "s"),
        "pass.best_s": (min(walls), "s"),
        "pass.median_s": (statistics.median(walls), "s"),
    }
    layers = rec.layer_totals()
    for prefix, _module, _names in LAYER_TARGETS:
        calls, secs = layers.get(prefix, (0, 0.0))
        metrics[f"{prefix}.calls"] = (calls / n, "count")
        metrics[f"{prefix}.s"] = (secs / n, "s")
    ops = [op for p in passes for op in p["ops"]]
    for module in QUERY_MODULES:
        mine = [op for op in ops if op["module"] == module]

        def total(field: str) -> float:
            return sum(op[field] for op in mine) / n

        for field, value, unit in (
            ("build_s", total("build_s"), "s"),
            ("execute_s", total("execute_s"), "s"),
            ("jobs", total("jobs"), "count"),
            ("tasks", total("tasks"), "count"),
            ("shuffle_write_bytes", total("shuffle_write_bytes"), "B"),
            ("spill_bytes", total("spill_bytes"), "B"),
            ("executor_cpu_s", total("cpu_s"), "s"),
            ("executor_wait_s", total("run_s") - total("cpu_s"), "s"),
            ("gc_s", total("gc_s"), "s"),
        ):
            metrics[f"queries.{module}.{field}"] = (value, unit)
    metrics["spark.core_busy_frac"] = (sum(op["run_s"] for op in ops) / (sum(walls) * bench.cpus), "frac")
    metrics["spark.failed_tasks"] = (sum(op["failed_tasks"] for op in ops) / n, "count")
    # what tracing adds to a pass: each span's wrapper cost, and the
    # driver's reads of the status store
    span_cost = spans.wrapper_cost_s()
    metrics["trace.overhead_s"] = ((len(rec.spans) * span_cost + bench.stages.read_s) / n, "s")
    metrics["peak_pss_mb"] = (pss.peak_bytes / 1e6, "MB")
    metrics["failed_frac"] = (bench.failed / bench.attempted, "frac")
    counts = {
        "traced_passes": n,
        "spans_per_pass": len(rec.spans) / n,
        "span_cost_us": round(span_cost * 1e6, 3),
        "stage_read_s_per_pass": round(bench.stages.read_s / n, 4),
        "pss_samples": pss.samples,
        "pss_sampler_cpu_s": pss.cpu_s,
    }
    return metrics, counts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"sf{SMOKE_SF:g} inputs, to test the benchmark itself")
    args = ap.parse_args(argv)

    prepare_environment()
    bench = Bench(args)
    try:
        warm_s, matched = bench.warm_up_and_check()
        setup_s = bench.get_spark_s + bench.first_job_s + warm_s
        meta = bench.meta()
        if args.trace:
            bench.enable_tracing()
            with PssSampler(bench.spark.sparkContext._gateway.proc.pid) as pss:
                passes = bench.measure(traced=True)
            metrics, counts = per_layer(bench, passes, pss)
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            span_file = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
            bench.recorder.dump(span_file)
            meta["span_file"] = os.path.relpath(span_file, ROOT)
            meta["self_s_per_pass"] = {
                layer: round(s / len(passes), 4) for layer, s in sorted(bench.recorder.self_times().items())
            }
        else:
            passes = bench.measure(traced=False)
            metrics, counts = end_to_end(setup_s, passes)
    finally:
        bench.close()

    meta.update(
        setup_s=round(setup_s, 3),
        pass_walls=[round(p["wall_s"], 3) for p in passes],
        pass_steal_s=[round(p["steal_s"], 2) for p in passes],
        pass_orders=[p["order"] for p in passes],
        op_runs_s={
            key: [round(op["build_s"] + op["execute_s"], 3) for p in passes for op in p["ops"] if op["key"] == key]
            for key in bench.ops
        },
        warm_up_op_s=bench.warm_up_op_s,
        outputs_matched=matched,
        attempted=bench.attempted,
        failed=bench.failed,
        failed_frac=bench.failed / bench.attempted,
        samples=counts,
    )
    print("meta " + json.dumps(meta))
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0 and matched == len(bench.ops),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
