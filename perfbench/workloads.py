"""The workloads: ``headline_queries``, ``dag_build``, ``stream_intake``, and
``write_path``, which runs the last two in one process. Each is a closed
loop with one client: the next measured operation starts only after the
previous one returned.

A workload has three steps:

* ``prepare`` — make the seeded inputs and the oracles (untimed, outside
  ``setup_s``: it is benchmark work, not program work);
* ``warm`` — the untimed warm-up that ``setup_s`` counts, with its outputs
  checked;
* ``round`` — one pass of measured operations. Every operation runs
  under ``setJobGroup(<op id>)`` so the event log can be rolled up per
  operation, and its output is checked after the clock stopped.

An operation is a query (construct + execute), a build (CSV to tested
``core_texi``) or a micro-batch (sink call to commit return).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

from perfbench import inputs


class Op:
    """One measured operation: wall seconds, items done, check result."""

    def __init__(self, op_id: str, kind: str, seconds: float, items: int, ok: bool):
        self.op_id, self.kind, self.seconds, self.items, self.ok = op_id, kind, seconds, items, ok
        self.round = None


def _fail(what: str) -> bool:
    print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)
    return False


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)

    def items_per_s(self, ops):
        """Throughput: items ÷ summed operation time, the inverse mean
        operation time weighted by items."""
        return sum(op.items for op in ops) / sum(op.seconds for op in ops)

    def checked(self, op_id, kind, fn, items):
        """Run ``fn`` (returns a check callable) timed, then its check
        untimed; exceptions count as failed operations."""
        sc = self.ctx.spark.sparkContext
        sc.setJobGroup(op_id, f"perfbench {kind}")
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(kind, "driver", op=op_id):
                check = fn()
            seconds = time.perf_counter() - t0
            ok = check()
        except Exception:
            seconds = time.perf_counter() - t0
            traceback.print_exc()
            ok = _fail(f"{op_id} raised")
        finally:
            sc.setJobGroup("perfbench-untimed", "perfbench untimed")
        return Op(op_id, kind, seconds, items, ok)


# -- headline_queries --------------------------------------------------------

class HeadlineQueries(Workload):
    """The registry's ``bench=True`` queries; each round runs all of them
    in a seed-shuffled order, each to a ``noop`` sink."""

    name = "headline_queries"
    SF = 0.005
    N_DOCS = 500

    def prepare(self):
        import duckdb

        from data_etl_with_dbt_spark.suite import QUERIES

        self.dir = inputs.write_tables(self.ctx.seed, self.SF, self.N_DOCS, self.ctx.path("tables"))
        self.queries = [n for n, q in sorted(QUERIES.items()) if q.bench]
        con = duckdb.connect()
        for f in os.listdir(self.dir):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{self.dir}/{f}'")
        self.oracle = {n: con.execute(QUERIES[n].oracle).df() for n in self.queries if QUERIES[n].oracle}
        con.close()
        self.rows: dict[str, int] = {}

    def _order(self):
        return [self.queries[i] for i in self.rng.permutation(len(self.queries))]

    def warm(self):
        """One round collected to the driver: oracle-bearing queries must
        match DuckDB, every query's row count is kept for later rounds.
        The round runs on one client thread per core: it warms the JVM
        (JIT, generated code) and the Python workers, work that is largely
        single-threaded per query, so in parallel it costs about half the
        wall time. Measured rounds stay sequential. Returns the wall seconds
        of the round (checks excluded) and its operations."""
        from concurrent.futures import ThreadPoolExecutor

        from data_etl_with_dbt_spark.suite import QUERIES
        from tests.test_oracle_parity import assert_frames_match

        def collect(n):
            return QUERIES[n].fn(self.ctx.spark, self.dir).toPandas()

        self.ctx.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=self.ctx.cores) as pool:
            futures = {n: pool.submit(collect, n) for n in self._order()}
            results = {}
            for n, f in futures.items():
                try:
                    results[n] = f.result()
                except Exception:
                    traceback.print_exc()
                    results[n] = None
        spent = time.perf_counter() - t0
        ops = []
        for n, pdf in results.items():
            ok = pdf is not None or _fail(f"warm {n} raised")
            if ok and n in self.oracle:
                try:
                    assert_frames_match(pdf, self.oracle[n], n)
                except AssertionError as e:
                    ok = _fail(f"{n} differs from its DuckDB oracle: {e}")
            self.rows[n] = 0 if pdf is None else len(pdf)
            if ok and not self.rows[n]:
                ok = _fail(f"{n} returned no rows")
            ops.append(Op(f"warm-{n}", "query", 0.0, 1, ok))
        return spent, ops

    def round(self, r):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.suite import QUERIES

        ops = []
        for i, n in enumerate(self._order()):
            self.ctx.spark.catalog.clearCache()
            obs = Observation(f"rows{r}_{i}")

            def query(n=n, obs=obs):
                with self.ctx.tracer.span("suite.construct", "suite"):
                    df = QUERIES[n].fn(self.ctx.spark, self.dir)
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                return lambda: obs.get["n"] == self.rows.get(n) or _fail(
                    f"{n}: {obs.get['n']} rows, warm-up had {self.rows.get(n)}"
                )

            ops.append(self.checked(f"q{r}-{i}-{n}", "query", query, 1))
        return ops


# -- dag_build ---------------------------------------------------------------

class DagBuild(Workload):
    """``dbt run && dbt test`` on a seeded taxi CSV, full refresh."""

    name = "dag_build"
    N_BASE = 30_000
    ROW_CAP = 1_300_000  # the reference's ingest cap (ETL/ETL.py:50-54)

    def prepare(self):
        self.csv = self.ctx.path("taxi.csv")
        self.n_rows, self.expected = inputs.write_taxi_csv(self.ctx.seed, self.N_BASE, self.csv)
        assert self.n_rows <= self.ROW_CAP
        self.digest = None

    def warm(self):
        t0 = time.perf_counter()
        op = self.checked("build-warm", "build", self.build, self.n_rows)
        return time.perf_counter() - t0, [op]

    def build(self):
        from data_etl_with_dbt_spark.models.taxi import register_taxi_models
        from data_etl_with_dbt_spark.plans.dag import ModelRegistry
        from data_etl_with_dbt_spark.sources import ingest_csv

        spark, tracer = self.ctx.spark, self.ctx.tracer
        ingest_csv(spark, self.csv, "Texi_data", row_cap=self.ROW_CAP)
        registry = ModelRegistry()
        registry.add_source("Texi_data", "Texi_data")
        register_taxi_models(registry)
        with tracer.span("plans.run", "plans"):
            registry.run(spark)
        with tracer.span("plans.test", "plans"):
            results = registry.test(spark)
        return lambda: self.check(results)

    def check(self, results):
        from pyspark.sql import functions as F

        ok = True
        for r in results:
            if not r.passed:
                ok = _fail(f"dq test {r.test} failed")
        if len(results) != 5:
            ok = _fail(f"{len(results)} dq tests ran, expected 5")
        core = self.ctx.spark.table("core_texi")
        cols = [c for c in core.columns if c != "ingestion_date"]  # run-date stamp
        row = core.agg(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h")).first()
        if row["n"] != self.expected:
            ok = _fail(f"core_texi has {row['n']} rows, generator planted {self.expected}")
        if self.digest is None:
            self.digest = row["h"]
        elif row["h"] != self.digest:
            ok = _fail("core_texi content differs between builds")
        return ok

    def round(self, r):
        return [self.checked(f"build-{r}", "build", self.build, self.n_rows)]


# -- stream_intake -----------------------------------------------------------

class StreamIntake(Workload):
    """Ascending-id micro-batches of a document corpus into
    ``streaming.intake.substring_intake_sink``: batch 0 plain, later batches
    bloom-fronted. A round feeds the whole corpus into a fresh index and
    corpus; the accumulated corpus must equal the one-shot oracle. The
    warm-up round runs a plain and a bootstrap batch over a prefix of the
    corpus, which warms the same code paths at a fraction of the cost."""

    name = "stream_intake"
    N_DOCS = 5000
    N_BATCHES = 3  # plain, bloom bootstrap, steady bloom-fronted
    # the bootstrap batch runs the steady batch's probe path after its
    # backfill, so a plain and a bootstrap batch warm every code path
    WARM_DOCS = 100
    WARM_BATCHES = 2

    def prepare(self):
        docs = inputs.documents(self.rng, self.N_DOCS)
        self.corpus = self._corpus(docs, "full", self.N_BATCHES)
        self.warm_corpus = self._corpus(docs.iloc[: self.WARM_DOCS], "warm", self.WARM_BATCHES)

    def _corpus(self, docs, tag, n_batches):
        """Batch files of ``docs`` and the oracle of their one-shot cut.
        The cuts are equal shares moved by up to 2% of the corpus by the
        seed: a batch's cost depends on its size and on the index earlier
        batches built, so freer cuts would let the seed, not the engine,
        set the per-batch times."""
        import duckdb

        from data_etl_with_dbt_spark.suite import QUERIES

        jitter = self.rng.uniform(-0.02, 0.02, n_batches - 1)
        shares = [0.0, *(np.arange(1, n_batches) / n_batches + jitter), 1.0]
        bounds = [round(s * len(docs)) for s in shares]
        batches = []
        for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            path = self.ctx.path(f"{tag}-batch-{b}.parquet")
            docs.iloc[lo:hi].to_parquet(path, index=False)
            batches.append((path, hi - lo))
        all_path = self.ctx.path(f"{tag}-documents.parquet")
        docs.to_parquet(all_path, index=False)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{all_path}'")
        oracle = con.execute(QUERIES["exact_substring_dedup_cut"].oracle).df()
        con.close()
        return batches, oracle

    def warm(self):
        t0 = time.perf_counter()
        ops = self.round("warm", self.warm_corpus)
        return time.perf_counter() - t0, ops

    def round(self, r, corpus=None):
        from data_etl_with_dbt_spark.streaming.intake import substring_intake_sink

        batches, oracle = corpus or self.corpus
        spark, tracer = self.ctx.spark, self.ctx.tracer
        base = self.ctx.path(f"stream-{r}")
        plain = substring_intake_sink(base + "/index", base + "/corpus", "doc_id", "text",
                                      span_tokens=10, emit_text=False)
        fronted = substring_intake_sink(base + "/index", base + "/corpus", "doc_id", "text",
                                        span_tokens=10, emit_text=False, bloom_expected_keys=200_000)
        ops = []
        for b, (path, n) in enumerate(batches):
            sink = plain if b == 0 else fronted
            before = _dir_stats(base) if tracer.active else None

            def batch(b=b, path=path, sink=sink):
                with tracer.span("streaming.sink", "streaming"):
                    sink(spark.read.parquet(path), b)
                return lambda: True

            op = self.checked(f"batch-{r}-{b}", "batch", batch, n)
            ops.append(op)
            if before is not None:
                files, size = _dir_stats(base)
                tracer.counts[op.op_id]["files_written"] += files - before[0]
                tracer.counts[op.op_id]["bytes_written"] += size - before[1]
                tracer.counts[op.op_id]["input_bytes"] += os.path.getsize(path)
        ok = self.check(base, oracle)
        for op in ops:
            op.ok = op.ok and ok
        shutil.rmtree(base, ignore_errors=True)
        return ops

    def check(self, base, oracle):
        """The accumulated corpus equals the one-shot oracle. A corpus that
        cannot be read (a batch raised before writing it) fails the check
        rather than the run."""
        from tests.test_oracle_parity import assert_frames_match

        try:
            got = self.ctx.spark.read.parquet(base + "/corpus").select(
                "doc_id", "n_tokens", "n_tokens_removed", "cleaned_hash"
            ).toPandas()
            assert_frames_match(got, oracle, "stream_intake corpus")
        except Exception as e:
            return _fail(f"stream_intake corpus: {e}")
        return True


def _dir_stats(path):
    files = size = 0
    for root, _, names in os.walk(path):
        for f in names:
            files += 1
            size += os.path.getsize(os.path.join(root, f))
    return files, size


# -- write_path --------------------------------------------------------------

class WritePath(Workload):
    """``dag_build`` and ``stream_intake`` in one run: each round is one
    build followed by one intake round, on the same inputs the two
    workloads make from the seed on their own. Its items are operations: a build counts rows and a batch
    documents, so their sum would weigh the build by its row count."""

    name = "write_path"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = (DagBuild(ctx), StreamIntake(ctx))

    def prepare(self):
        for part in self.parts:
            part.prepare()

    def warm(self):
        """Both warm-ups at once, on two client threads: their cost is JIT,
        code generation and Python-worker start, largely single-threaded,
        and they touch disjoint tables and paths. Returns the wall seconds
        of the two and their operations."""
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(self.parts)) as pool:
            done = [f.result() for f in [pool.submit(part.warm) for part in self.parts]]
        return time.perf_counter() - t0, [op for _, ops in done for op in ops]

    def round(self, r):
        return [op for part in self.parts for op in part.round(r)]

    def items_per_s(self, ops):
        return len(ops) / sum(op.seconds for op in ops)


WORKLOADS = {w.name: w for w in (HeadlineQueries, DagBuild, StreamIntake, WritePath)}
