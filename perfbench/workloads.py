"""The benchmark's workloads.

Each workload has a set-up (inputs from the seed, preload) and passes of
ops, where an op is one ``run_pipeline`` call or one query execution.
One client issues the ops serially and waits for each (closed loop, no
think time). Every op's output is checked after it is timed; a failed
check counts the op as failed.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
import duckdb
import rawzone

CORES = 4  # local[CORES], one shuffle partition per core

# upsert_daily: the curated zone a daily job lands on, and its deltas.
UPSERT_SCALE = 0.01  # of sf1: 2k products, 15k orders, 45.5k order_items
UPSERT_DAYS = 30
UPSERT_BATCHES = 3
UPSERT_RESEND_DAYS = 1

# query_mix: TPC-H-style and events tables from tools.gen_testdata.
QUERY_SF = 0.001
QUERY_MIX = (
    "sql_revenue_by_nation",
    "lineitem_price_equidepth_bands",
    "customers_fuzzy_pairs_d2_capped",
    "parts_coorder_pagerank",
)
# query row -> the pair / iterative operator module it exercises
OPERATOR_ROWS = {
    "customers_fuzzy_pairs_d2_capped": "fuzzy",
    "parts_coorder_pagerank": "pagerank",
    "lineitem_price_equidepth_bands": "quantiles",
}
SETUP_REPEATS = 3


class Op:
    """Timing and verdict of one op."""

    def __init__(self, name: str, latency_s: float, problem: str | None, **attrs):
        self.name = name
        self.latency_s = latency_s
        self.problem = problem
        self.attrs = attrs


def cpu_s() -> float:
    """CPU seconds used so far by this process and the driver JVM. The
    kernel leaves out time stolen by the hypervisor, which wall time
    counts."""
    from pyspark import SparkContext

    t = os.times()
    total = t.user + t.system
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def _timed(call, tracer, name, kind):
    """(result, wall seconds, CPU seconds, span or None) of ``call()``."""
    c0 = cpu_s()
    if tracer is None:
        t0 = time.perf_counter()
        out = call()
        return out, time.perf_counter() - t0, cpu_s() - c0, None
    out, span = tracer.run(name, kind, call)
    return out, span.wall_s, cpu_s() - c0, span


class UpsertDaily:
    """A curated zone preloaded in set-up; each pass restores it and
    applies the daily delta batches through ``run_pipeline``."""

    name = "upsert_daily"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.con = duckdb.connect()
        self.passes = 0

    def setup_once(self, rep: int) -> None:
        """Generate every input into a fresh directory."""
        root = os.path.join(self.work, f"setup{rep}")
        base = rawzone.generate_base(
            os.path.join(root, "raw", "base"), self.seed, UPSERT_SCALE, UPSERT_DAYS
        )
        state = base.clean
        self.batches, self.expected = [], []
        for k in range(1, UPSERT_BATCHES + 1):
            batch = rawzone.generate_batch(
                os.path.join(root, "raw", f"batch{k}"), self.seed, base, state,
                k, UPSERT_RESEND_DAYS,
            )
            state = rawzone.apply_batch(state, batch)
            self.batches.append(batch)
            self.expected.append(state)
        if rep:
            shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"))
        self.base, self.root = base, root

    def prepare(self) -> None:
        """Preload the curated zone with the base state, written straight
        to parquet in the writer's layout."""
        self.preload = os.path.join(self.root, "preload")
        rawzone.write_curated(self.base.clean, os.path.join(self.preload, "curated"))
        problems = checks.check_curated(
            self.con, os.path.join(self.preload, "curated"), self.base.clean
        )
        if problems:
            raise RuntimeError(f"preload is not the expected state: {problems}")

    def raw_bytes(self) -> int:
        """Bytes of the raw zone the curated zone was built from."""
        return self.base.bytes_in() + sum(b.bytes_in() for b in self.batches)

    def run_pass(self, tracer=None) -> list[Op]:
        from lakehouse_architecture_spark.operators.caching import release_slots
        from lakehouse_architecture_spark.plans.pipeline import run_pipeline

        self.passes += 1
        root = os.path.join(self.work, f"pass{self.passes}")
        curated = os.path.join(root, "curated")
        rejected = os.path.join(root, "rejected")
        shutil.copytree(os.path.join(self.preload, "curated"), curated)
        release_slots()
        ops = []
        want_rejected = {t: {} for t in rawzone.TABLES}
        for k, (batch, expected) in enumerate(zip(self.batches, self.expected), 1):
            if tracer is not None:
                before = (_files(curated) | _files(rejected), self._rules(rejected))
            try:
                _res, wall, cpu, span = _timed(
                    lambda b=batch: run_pipeline(self.spark, b.paths(), curated, rejected),
                    tracer, f"batch{k}", "run_pipeline",
                )
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                ops.append(Op(f"batch{k}", 0.0, f"raised {type(e).__name__}: {e}"))
                continue
            for t in rawzone.TABLES:
                for rule, n in batch.ledger[t]["rejected"].items():
                    want_rejected[t][rule] = want_rejected[t].get(rule, 0) + n
            problems = checks.check_curated(self.con, curated, expected)
            problems += checks.check_rejected(self.con, rejected, want_rejected)
            err = "; ".join(problems) or None
            op = Op(f"batch{k}", wall, err, cpu_s=cpu, rows_in=batch.rows_in(),
                    bytes_in=batch.bytes_in(), span=span)
            if tracer is not None:
                op.attrs.update(self._layer_counts(batch, curated, rejected, before))
            ops.append(op)
        self.stored_bytes = _dir_bytes(curated) + _dir_bytes(rejected)
        shutil.rmtree(root)
        return ops

    def _layer_counts(self, batch, curated, rejected, before) -> dict:
        """Rows and files the op left behind, read back from the zones.
        ``before``: (parquet files, rejected rows by rule) before the op."""
        files_before, rules_before = before
        new = sorted((_files(curated) | _files(rejected)) - files_before)
        new_curated = [p for p in new if p.startswith(curated + os.sep)]
        rules = _minus(self._rules(rejected), rules_before)
        accepted = corrupt = 0
        for t in rawzone.TABLES:
            keys = checks.raw_keys(self.con, batch.root, t)
            accepted += checks.curated_rows_with_keys(self.con, curated, t, keys)
            corrupt += checks.corrupt_lines(self.con, batch.root, t)
        unaccounted = batch.rows_in() - accepted - sum(rules.values())
        return {
            "accepted": accepted,
            "rejected_by_rule": rules,
            "corrupt": corrupt,
            "unaccounted": unaccounted,
            "dedup_dropped": unaccounted - corrupt,
            "files_written": len(new),
            "output_bytes": sum(os.path.getsize(p) for p in new),
            "rows_written": sum(_parquet_rows(p) for p in new_curated),
            "partitions_rewritten": len({os.path.dirname(p) for p in new_curated}),
        }

    def _rules(self, rejected: str) -> dict[str, int]:
        """Rejected rows by ``<table>.<rule slug>``."""
        return {
            f"{t}.{rawzone.slug(rule)}": n
            for t in rawzone.TABLES
            for rule, n in checks.rejected_by_rule(self.con, rejected, t).items()
        }


def _minus(a: dict, b: dict) -> dict:
    return {k: n - b.get(k, 0) for k, n in a.items() if n - b.get(k, 0)}


class QueryMix:
    """Registered queries over a generated lake, run serially; each pass
    starts with released slots and an empty Spark cache."""

    name = "query_mix"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def setup_once(self, rep: int) -> None:
        """Generate the lake and the oracle's expected rows; repeated in
        set-up, each time into a fresh directory."""
        from lakehouse_architecture_spark.queries import ORACLES
        from lakehouse_architecture_spark.sources.tables import TESTDATA_TABLES
        from tools.gen_testdata import generate

        lake = os.path.join(self.work, f"lake{rep}")
        generate(QUERY_SF, lake, self.seed)
        con = checks.oracle_connection(lake, TESTDATA_TABLES)
        self.oracle = {q: checks.oracle_rows(con, ORACLES[q]) for q in QUERY_MIX}
        con.close()
        self.table_rows = {
            os.path.abspath(os.path.join(lake, t + ".parquet")): _parquet_rows(
                os.path.join(lake, t + ".parquet")
            )
            for t in TESTDATA_TABLES
        }
        if rep:
            shutil.rmtree(os.path.join(self.work, f"lake{rep - 1}"))
        self.lake = lake

    def prepare(self) -> None:
        pass

    def run_pass(self, tracer=None) -> list[Op]:
        from lakehouse_architecture_spark.operators.caching import release_slots
        from lakehouse_architecture_spark.queries import QUERIES

        release_slots()
        self.spark.catalog.clearCache()
        ops = []
        for q in QUERY_MIX:
            phases = {}

            def execute(q=q, phases=phases):
                t0 = time.perf_counter()
                df = QUERIES[q](self.spark, self.lake)
                t1 = time.perf_counter()
                if tracer is not None:
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                phases.update(build=t1 - t0, plan=t2 - t1,
                              exec=time.perf_counter() - t2)
                return df, rows

            try:
                (df, rows), wall, cpu, span = _timed(execute, tracer, q, "query")
                problem = checks.compare_result(df.columns, rows, self.oracle[q])
                rows_in = sum(
                    self.table_rows.get(_local_path(f), 0) for f in df.inputFiles()
                )
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                ops.append(Op(q, 0.0, f"raised {type(e).__name__}: {e}"))
                continue
            ops.append(Op(q, wall, problem, cpu_s=cpu, rows_in=rows_in, span=span,
                          **phases))
        return ops


def _local_path(uri: str) -> str:
    return os.path.abspath(uri[len("file:"):] if uri.startswith("file:") else uri)


def _files(root: str) -> set[str]:
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        out.update(
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        )
    return out


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


WORKLOADS = {w.name: w for w in (UpsertDaily, QueryMix)}
