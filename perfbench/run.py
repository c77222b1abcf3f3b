"""The repository's benchmark: three seeded workloads on the engine at
``local[<cores>]``, every output checked.

    python3 perfbench/run.py --workload headline_queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1            # all three, one process

Run it from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` measures the same workload untraced and then again
with spans, wrapped layer calls and the Spark event log, and reports the
per-layer metrics (``perfbench/README.md`` lists them and the end-to-end
metric each should move). Every run works in a fresh directory under
``.perfbench_work/`` (cwd, warehouse, temp root, Spark local dirs) that is
deleted at the end, and appends one record with its host context to
``.perfbench_results/runs.jsonl``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
The command exits non-zero when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import rollup  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

#: the named end-to-end metrics of each operation kind: (rate, median
#: time, tail time); a rate is items ÷ summed operation time
KIND_METRICS = {
    "query": ("queries_per_s", "query_p50_s", "query_tail_s"),
    "build": (None, "dag_build_s", None),
    "batch": ("intake_docs_per_s", "batch_p50_s", "batch_tail_s"),
}
UNITS = {
    "setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB", "fail_ratio": "ratio",
    "queries_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s",
    "dag_build_s": "s", "intake_docs_per_s": "1/s", "batch_p50_s": "s", "batch_tail_s": "s",
}
#: the end-to-end metrics of ``BENCHMARK.json``. The others are printed and
#: recorded but not gated: JVM heap growth makes peak RSS swing by a third
#: between identical runs, and the headline queries' times have a gap at
#: their median, so noise that reorders two queries moves the median by up
#: to half. ``items_per_s`` is the workload's throughput
#: (:meth:`~perfbench.workloads.Workload.items_per_s`), which every
#: operation moves smoothly
END_TO_END = ("setup_s", "items_per_s")
#: the workloads ``--workload all`` runs, one after the other
ALL = ("headline_queries", "dag_build", "stream_intake")
LAYERS = ("driver", "suite", "sources", "materialize", "plans", "streaming")


class Run:
    """One workload run: its scratch directories and Spark session."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        for d in ("inputs", "tmp", "local", "warehouse", "cwd", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        self.tracer = Tracer(active=False)
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, "inputs", name)

    def __enter__(self):
        self._env = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")}
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.chdir(os.path.join(self.work, "cwd"))
        return self

    def __exit__(self, *exc):
        stop_spark(jvm=True)
        os.chdir(ROOT)
        for k, v in self._env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(self.work, ignore_errors=True)

    def start(self, eventlog: bool = False) -> float:
        """Start (or restart) the session; returns the seconds it took."""
        from data_etl_with_dbt_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            # no hsperfdata file in the system temp dir: a run writes only
            # inside its checkout
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", master=self.master, extra_conf=conf)
        seconds = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return seconds


def stop_spark(jvm: bool) -> None:
    """Stop the active session; with ``jvm`` also end the gateway JVM (and
    with it the Python workers) and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if not jvm or gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def steal_cpu_s() -> float | None:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_sha() -> str | None:
    """HEAD of the checkout when it is a git work tree, else None."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def measure(w, seconds: float, first_round: int = 0):
    """Whole rounds of operations until ``seconds`` have passed."""
    ops, r, t0 = [], first_round, time.perf_counter()
    while True:
        for op in w.round(r):
            op.round = r
            ops.append(op)
        r += 1
        if time.perf_counter() - t0 >= seconds:
            return ops, r


def end_to_end(w, ops, setup_s, rss):
    """The gated metrics, the named metrics of each operation kind the
    workload ran, and each tail's ``(percentile, samples)``."""
    e2e = {"setup_s": setup_s, "items_per_s": w.items_per_s(ops)}
    named, tails = {"setup_s": setup_s, "peak_rss_mb": rss}, {}
    for kind, (rate, p50, tail) in KIND_METRICS.items():
        times = [op.seconds for op in ops if op.kind == kind]
        if not times:
            continue
        if rate:
            named[rate] = sum(op.items for op in ops if op.kind == kind) / sum(times)
        named[p50] = rollup.median(times)
        if tail:
            named[tail], pct, n = rollup.tail(times)
            tails[tail] = (pct, n)
    return e2e, named, tails


def per_layer(run, untraced, traced, log, start_s, rss):
    """Per-layer metrics of the traced operations, averaged per operation
    (counts and seconds) or pooled (ratios)."""
    tr = run.tracer
    by_op = {op.op_id: [s for s in tr.spans if s["op"] == op.op_id] for op in traced}
    per_op, records = [], []
    for op in traced:
        spans = by_op[op.op_id]
        root = next(s for s in spans if s["parent"] is None)
        construct = next((s for s in spans if s["name"] == "suite.construct"), None)
        window = (construct["start"], construct["end"]) if construct else ()
        g = rollup.rollup_group(log, op.op_id, *window)
        c = tr.counts[op.op_id]
        busy = rollup.clip(g["busy"], root["start"], root["end"])
        selfs = rollup.self_times(spans, busy)
        v = {
            "suite.construct_s": c["suite.construct.s"],
            "suite.construct_jobs": g.get("jobs_in_window", 0),
            "sources.parquet_resolves": c["sources.parquet_resolve.calls"],
            "sources.parquet_resolve_s": c["sources.parquet_resolve.s"],
            "sources.write_table_s": c["sources.write_table.s"],
            "plans.observed_write_s": c["plans.observed_write.s"],
            "sources.versioned_commits": c["sources.versioned_commit.calls"],
            "sources.versioned_commit_s": c["sources.versioned_commit.s"],
            "sources.versioned_read_s": c["sources.versioned_read.s"],
            "materialize.checkpoints": c["materialize.checkpoint.calls"],
            "materialize.checkpoint_s": c["materialize.checkpoint.s"],
            "plans.run_s": c["plans.run.s"],
            "plans.test_s": c["plans.test.s"],
            "plans.dq_checks": c["plans.dq_check.calls"],
            "sources.ingest_csv_s": c["sources.ingest_csv.s"],
            "streaming.sink_s": c["streaming.sink.s"],
            "spark.action_s": rollup.length(busy),
            **{f"spark.{k}": g[k] for k in ("jobs", "stages", *rollup.STAGE_SUMS)},
            "driver.unattributed_s": rollup.uncovered(root["start"], root["end"], busy),
            **{f"self.{layer}_s": selfs.get(layer, 0.0) for layer in LAYERS},
        }
        per_op.append(v)
        records.append({"op": op.op_id, "kind": op.kind, "seconds": op.seconds, "skew": g["task_skew"], **v})
    metrics = {k: statistics.fmean(v[k] for v in per_op) for k in per_op[0]}
    batches = [(op, v) for op, v in zip(traced, per_op) if op.kind == "batch"]
    metrics["sources.files_per_batch"] = statistics.fmean(
        tr.counts[op.op_id]["files_written"] for op, _ in batches) if batches else 0.0
    metrics["streaming.jobs_per_batch"] = statistics.fmean(v["spark.jobs"] for _, v in batches) if batches else 0.0
    written = sum(tr.counts[op.op_id]["bytes_written"] for op in traced)
    read = sum(tr.counts[op.op_id]["input_bytes"] for op in traced)
    metrics["sources.bytes_written_per_input_byte"] = written / read if read else 0.0
    metrics["sources.distinct_path_ratio"] = _distinct_path_ratio(tr, traced)
    metrics["spark.task_skew"] = statistics.median(r["skew"] for r in records)
    metrics["session.start_s"] = start_s
    metrics["driver.peak_rss_mb"] = rss
    metrics["trace.overhead_s"] = rollup.median([op.seconds for op in traced]) - rollup.median(
        [op.seconds for op in untraced]
    )
    return metrics, records


def _distinct_path_ratio(tr, traced) -> float:
    """Distinct parquet paths ÷ parquet resolves within one round (one
    pass over the workload's operations), averaged over rounds; a round
    without resolves wastes none and counts 1."""
    rounds: dict[int, list] = {}
    for op in traced:
        rounds.setdefault(op.round, []).extend(tr.paths.get(op.op_id, []))
    ratios = [len(set(p)) / len(p) if p else 1.0 for p in rounds.values()]
    return statistics.fmean(ratios)


LAYER_UNITS = {"_s": "s", "_bytes": "B", "_mb": "MB", "_ratio": "ratio", "_per_input_byte": "ratio", "skew": "ratio"}


def layer_unit(name: str) -> str:
    return next((u for suffix, u in LAYER_UNITS.items() if name.endswith(suffix)), "count")


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.workloads import WORKLOADS

    steal0, started = steal_cpu_s(), time.time()
    with Run(name, seed) as run:
        w = WORKLOADS[name](run)
        t0 = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t0
        start_s = run.start()
        warm_s, warm_ops = w.warm()
        untraced, rounds = measure(w, seconds)
        rss = peak_rss_mb(run.spark)
        host = {
            "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
            "nproc": run.cores, "master": run.master, "python": platform.python_version(),
            "pyspark": run.spark.version,
            "java": run.spark.sparkContext._jvm.System.getProperty("java.version"),
            "git_sha": git_sha(), "started": started, "prepare_s": prepare_s,
            "session_start_s": start_s, "warm_s": warm_s, "rounds": rounds,
        }
        e2e, named, tails = end_to_end(w, untraced, start_s + warm_s, rss)
        ops = warm_ops + untraced
        layer, op_records = None, None
        if trace:
            stop_spark(jvm=False)
            run.tracer = Tracer(active=True)
            run.start(eventlog=True)
            run.tracer.install()
            try:
                traced, _ = measure(w, seconds, first_round=rounds)
            finally:
                run.tracer.uninstall()
            stop_spark(jvm=False)
            log = rollup.read_event_log(_only_entry(os.path.join(run.work, "eventlog")))
            layer, op_records = per_layer(run, untraced, traced, log, start_s, rss)
            ops += traced
    steal1 = steal_cpu_s()
    failed = sum(1 for op in ops if not op.ok)
    host["steal_cpu_s"] = None if steal0 is None or steal1 is None else steal1 - steal0
    host["wall_s"] = time.time() - started
    named["fail_ratio"] = failed / len(ops)
    result = {
        "host": host, "attempted": len(ops), "failed": failed, "end_to_end": e2e,
        "named": named, "tails": tails, "per_layer": layer,
        "op_seconds": [[op.op_id, op.seconds] for op in untraced],
    }
    if trace:
        result["trace"] = {"spans": run.tracer.spans, "ops": op_records}
    return result


def _only_entry(d: str) -> str:
    (entry,) = os.listdir(d)
    return os.path.join(d, entry)


def report(result: dict) -> dict:
    """Print the human-readable lines and append the run record; returns
    the metrics of the final JSON line."""
    name = result["host"]["workload"]
    out = {}
    if result["per_layer"] is None:
        for k, v in result["named"].items():
            if not k.endswith("tail_s"):
                print(f"{name} {k} = {v} {UNITS[k]}")
            elif v is None:
                print(f"{name} {k} = n/a (n={result['tails'][k][1]}, fewer than 11 samples)")
            else:
                pct, n = result["tails"][k]
                print(f"{name} {k} = {v} {UNITS[k]} (p{pct} of n={n})")
        out = {k: {"value": result["end_to_end"][k], "unit": UNITS[k]} for k in END_TO_END}
    else:
        for k, v in sorted(result["per_layer"].items()):
            print(f"{name} {k} = {v} {layer_unit(k)}")
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in result["per_layer"].items()}
    h = result["host"]
    print(
        f"{name} host: nproc={h['nproc']} master={h['master']} steal_cpu_s={h['steal_cpu_s']} "
        f"pyspark={h['pyspark']} java={h['java']} git={h['git_sha']} seed={h['seed']}",
        file=sys.stderr,
    )
    results_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results_dir, exist_ok=True)
    trace = result.pop("trace", None)
    with open(os.path.join(results_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(result) + "\n")
    if trace is not None:
        path = os.path.join(results_dir, f"trace-{name}-{h['seed']}-{int(h['started'])}.json")
        with open(path, "w") as f:
            json.dump({"host": h, "per_layer": result["per_layer"], **trace}, f)
    return out


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import data_etl_with_dbt_spark.session  # noqa: F401
        import tests.test_oracle_parity  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not in this checkout ({e})", file=sys.stderr)
        return 2
    names = ALL if args.workload == "all" else [args.workload]
    results = [run_workload(n, args.seed, args.seconds, bool(args.trace)) for n in names]
    metrics = {}
    for r in results:
        m = report(r)
        metrics.update(m if len(results) == 1 else {f"{r['host']['workload']}.{k}": v for k, v in m.items()})
    failed = sum(r["failed"] for r in results)
    line = {"correct": failed == 0, "attempted": sum(r["attempted"] for r in results), "failed": failed,
            "metrics": metrics}
    print(json.dumps(line), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
