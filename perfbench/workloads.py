"""The workloads. Each is a closed loop with one client thread.
``BENCHMARK.json`` runs ``warehouse_queries`` and ``fact_merge``;
``corpus_dedup`` is run by hand (see README.md).

``warehouse_queries`` and ``corpus_dedup`` run seeded-order passes over a
family of the registry's ``bench=True`` queries; one op is build
(``QuerySpec.fn``) → noop save, which plans and executes.
``fact_merge`` runs merge/read/maintenance cycles on a versioned orders
fact and a customer dimension through ``sources.sink`` and
``sources.versioned``; it never calls ``load_table`` while timed.

A workload offers ``prepare`` (write its inputs, untimed), ``setup`` (the
program's set-up: warm pass or base-table build), ``block`` (the timed
units of one block: passes or cycles, each a list of ops with distinct
names), ``after_op`` (untimed housekeeping) and ``check`` (output checks
outside the timed region).
"""

from __future__ import annotations

import gc
import os
import random
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

from . import checks, datagen

# The registry's 29 bench=True queries, split by family. Each family keeps
# the queries the layer table of README.md names, as many as one run's
# time budget holds; the rest are listed in README.md.
WAREHOUSE = ("catalog_fact_sales_daily", "scd2_customer_dim")
CORPUS = ("minhash_lsh_candidates", "near_dup_clusters")


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]] | None = None  # untimed, after a clean run
    probe: Callable[[Any], dict] | None = None        # untimed, traced runs only


@dataclass
class Ctx:
    spark: Any
    tables: Path
    work: Path
    tracer: Any
    seed: int
    registry: dict | None = None


JIT_SETTLE_S = 3.0


def settle_jit(spark) -> None:
    """Wait up to ``JIT_SETTLE_S`` for the JIT compile queue to drain, so
    compiles one op triggered do not run inside the next op's timing."""
    jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    deadline = time.monotonic() + JIT_SETTLE_S
    last = jit.getTotalCompilationTime()
    while time.monotonic() < deadline:
        time.sleep(0.1)
        now = jit.getTotalCompilationTime()
        if now == last:
            return
        last = now


def release_residue(spark) -> None:
    """Drop what one query leaves on the session (cached plans, local
    checkpoints, unreachable shuffles), then settle the JIT, so the next
    query is timed alone."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    settle_jit(spark)


class QueryWorkload:
    MIN_PASSES = 2  # every query is timed at least twice per block

    def __init__(self, names: tuple[str, ...], nominal_pass_s: float):
        self.names = names
        self.nominal_pass_s = nominal_pass_s
        self.rows: dict[str, tuple[list[str], list[tuple]] | Exception] = {}

    def prepare(self, ctx: Ctx, n_blocks: int, seconds: int) -> None:
        """Seed the query order. Passes then alternate between that order
        and its reverse, starting from the warm pass in reverse, so every
        pass boundary repeats a query and the sequence has the same shape
        whatever the seed. (The JIT makes a query's time depend on which
        query ran before it.)"""
        self.order = sorted(self.names)
        random.Random(ctx.seed).shuffle(self.order)
        self.passes = max(self.MIN_PASSES, round(seconds / self.nominal_pass_s))
        self.passes_run = 0

    def _next_order(self) -> list[str]:
        order = self.order if self.passes_run % 2 else self.order[::-1]
        self.passes_run += 1
        return order

    def setup(self, ctx: Ctx) -> None:
        """Warm pass: each query once, collected; the rows feed ``check``."""
        for name in self._next_order():
            try:
                df = ctx.registry[name].fn(ctx.spark, str(ctx.tables))
                self.rows[name] = ([c.lower() for c in df.columns],
                                   [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 — reported by check()
                self.rows[name] = e
            release_residue(ctx.spark)

    def block(self, ctx: Ctx) -> list[list[Op]]:
        """``passes`` passes over every query, in alternating order."""
        return [[Op(n, lambda n=n: self._query(ctx, n)) for n in self._next_order()]
                for _ in range(self.passes)]

    @staticmethod
    def _query(ctx: Ctx, name: str) -> None:
        """Build, then noop save, as ``bench.py``'s ``force`` does; the save
        plans the query. A traced op also plans it on its own first, to time
        Catalyst apart from execution; the save then plans it again, and
        that extra planning is part of the tracing overhead."""
        t = ctx.tracer
        with t.span("build", "queries.build"):
            df = ctx.registry[name].fn(ctx.spark, str(ctx.tables))
        if t.active:
            with t.span("plan", "catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with t.span("save", "exec.save"):
            df.write.format("noop").mode("overwrite").save()

    def after_op(self, ctx: Ctx) -> None:
        release_residue(ctx.spark)

    def check(self, ctx: Ctx) -> dict[str, list[str]]:
        """Per query: oracle parity, or the minhash invariants."""
        duck = checks.duck_connect(ctx.tables)
        try:
            out = {}
            for name in self.names:
                got = self.rows.get(name)
                if isinstance(got, Exception) or got is None:
                    out[name] = [f"warm pass raised {got!r}"]
                elif name == "minhash_lsh_candidates":
                    out[name] = checks.minhash_problems(
                        *got, datagen.ROWS["documents"],
                        *self._collect(ctx, "ngram_jaccard_pairs"))
                else:
                    out[name] = checks.oracle_problems(
                        *got, duck, ctx.registry[name].oracle)
            return out
        finally:
            duck.close()

    @staticmethod
    def _collect(ctx: Ctx, name: str):
        df = ctx.registry[name].fn(ctx.spark, str(ctx.tables))
        return [c.lower() for c in df.columns], [tuple(r) for r in df.collect()]


FACT_KEY, DIM_KEY, PCOL = "o_orderkey", "c_custkey", "order_month"
FACT_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority", "order_month"]
DIM_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
# vacuum after every commit, keeping two versions, as the engine's own
# merge loop does (streaming/incremental.py)
VACUUM_KEEP = 2


def _cents(price: float) -> int:
    return round(price * 100)


def _dir_files(root: Path) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class FactMergeWorkload:
    MIN_CYCLES = 2
    # one warm cycle compiles the merge, read and maintenance paths; a
    # second is not needed, because pass_best_s takes each op at its fastest
    WARM_CYCLES = 1

    def __init__(self, nominal_cycle_s: float):
        self.nominal_cycle_s = nominal_cycle_s

    def prepare(self, ctx: Ctx, n_blocks: int, seconds: int) -> None:
        """Write the base fact, the seeded batches of the warm cycle and
        every timed one, and the expected-state model the read ops are
        checked against."""
        self.n_cycles = max(self.MIN_CYCLES, round(seconds / self.nominal_cycle_s))
        self.fact_root = ctx.work / "orders_fact"
        self.dim_root = ctx.work / "customer_dim"
        self.base = ctx.work / "batches" / "fact_base.parquet"
        base = datagen.write_fact_base(ctx.tables, self.base)
        self.batches = datagen.write_batches(
            ctx.seed, self.WARM_CYCLES + n_blocks * self.n_cycles, ctx.tables,
            ctx.work / "batches")
        self.next_batch = 0
        self.model = {k: (m, _cents(p)) for k, m, p in zip(
            base[FACT_KEY].to_pylist(), base[PCOL].to_pylist(),
            base["o_totalprice"].to_pylist())}
        self.files: dict[str, int] = {}
        self.bytes_written = self.files_written = self.batch_bytes = 0

    def setup(self, ctx: Ctx) -> None:
        """Base-table build, then the warm cycles."""
        from enterprise_data_warehouse_spark.sources.sink import (
            merge_upsert, merge_upsert_partitioned)
        from enterprise_data_warehouse_spark.sources.tables import ensure_runtime_confs

        spark = ctx.spark
        ensure_runtime_confs(spark)
        merge_upsert_partitioned(spark, str(self.fact_root), spark.read.parquet(str(self.base)),
                                 [FACT_KEY], PCOL)
        merge_upsert(spark, str(self.dim_root),
                     spark.read.parquet(str(ctx.tables / "customer.parquet")), [DIM_KEY])
        for _ in range(self.WARM_CYCLES):
            for op in self._cycle(ctx):
                problems = op.check(op.run()) if op.check else []
                if problems:
                    raise RuntimeError(f"warm {op.name}: {problems}")
        self.files = self._table_files()
        self.bytes_written = self.files_written = self.batch_bytes = 0

    def block(self, ctx: Ctx) -> list[list[Op]]:
        """``n_cycles`` cycles."""
        return [self._cycle(ctx) for _ in range(self.n_cycles)]

    def _cycle(self, ctx: Ctx) -> list[Op]:
        """Merge both batches, read back, then compact the dimension and
        vacuum both tables."""
        from enterprise_data_warehouse_spark.sources.sink import (
            merge_upsert, merge_upsert_partitioned)
        from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

        spark, t = ctx.spark, ctx.tracer
        b = self.batches[self.next_batch]
        self.next_batch += 1
        fact, dim = str(self.fact_root), str(self.dim_root)

        def fact_merge():
            with t.span("merge_upsert_partitioned", "sources.sink.merge"):
                merge_upsert_partitioned(spark, fact, spark.read.parquet(str(b["fact"])),
                                         [FACT_KEY], PCOL)

        def dim_merge():
            with t.span("merge_upsert", "sources.sink.merge"):
                merge_upsert(spark, dim, spark.read.parquet(str(b["dim"])), [DIM_KEY])

        def compact():
            with t.span("VersionedTable.compact", "sources.versioned.compact"):
                VersionedTable(spark, dim).compact()

        def vacuum(root):
            # no grace: nothing else writes or reads these tables, and the
            # default grace would spare every version a short run supersedes
            with t.span("VersionedTable.vacuum", "sources.versioned.vacuum"):
                VersionedTable(spark, root).vacuum(keep=VACUUM_KEEP, orphan_grace_ms=0,
                                                   supersede_grace_ms=0)

        def applied(_):
            self.batch_bytes += os.path.getsize(b["fact"])
            for k, m, p in zip(*(self._batch_col(b["fact"], c)
                                 for c in (FACT_KEY, PCOL, "o_totalprice"))):
                self.model[k] = (m, _cents(p))
            return []

        def dim_applied(_):
            self.batch_bytes += os.path.getsize(b["dim"])
            return []

        return [Op("fact_merge", fact_merge, applied), Op("dim_merge", dim_merge, dim_applied),
                *self._reads(ctx, b),
                Op("compact", compact), Op("vacuum_fact", lambda: vacuum(fact)),
                Op("vacuum_dim", lambda: vacuum(dim))]

    def _reads(self, ctx: Ctx, b: dict) -> list[Op]:
        """Read-after-write aggregate over the months batch ``b`` wrote, and
        a pruned read of the month it added; both are checked against the
        model."""
        from pyspark.sql import functions as F

        from enterprise_data_warehouse_spark.sources.sink import read_table
        from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

        spark, t, fact = ctx.spark, ctx.tracer, str(self.fact_root)
        cut, month = b["months"][0], b["months"][-1]
        agg = [F.count("*").alias("n"),
               F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")]

        def read_agg():
            with t.span("read_table", "sources.versioned.read"):
                return read_table(spark, fact).where(F.col(PCOL) >= cut) \
                    .groupBy(PCOL).agg(*agg).collect()

        def pruned_read():
            with t.span("VersionedTable.read", "sources.versioned.read"):
                df = VersionedTable(spark, fact).read(prune={PCOL: month})
                return df, df.where(F.col(PCOL) == month).agg(*agg).collect()

        def files_read_ratio(res):
            full = read_table(spark, fact).inputFiles()
            return {"files_read_ratio": len(res[0].inputFiles()) / max(1, len(full))}

        return [
            Op("read_agg", read_agg, lambda rows: self._agg_problems(rows, lambda m: m >= cut)),
            Op("pruned_read", pruned_read,
               lambda res: self._agg_problems(res[1], lambda m: m == month, grouped=False),
               files_read_ratio),
        ]

    @staticmethod
    def _batch_col(path: Path, col: str) -> list:
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=[col])[col].to_pylist()

    def _agg_problems(self, rows, keep, grouped: bool = True) -> list[str]:
        want: dict[str, list[int]] = {}
        for m, cents in self.model.values():
            if keep(m):
                w = want.setdefault(m if grouped else "", [0, 0])
                w[0] += 1
                w[1] += cents
        got = {(r[PCOL] if grouped else ""): [r["n"], int(r["s"] * 100) if r["s"] is not None else 0]
               for r in rows}
        got = {k: v for k, v in got.items() if v[0]}
        return [] if got == want else [f"aggregate differs from the model: {got} != {want}"]

    def _table_files(self) -> dict[str, int]:
        return _dir_files(self.fact_root) | _dir_files(self.dim_root)

    def after_op(self, ctx: Ctx) -> None:
        settle_jit(ctx.spark)
        now = self._table_files()
        new = [p for p in now if p not in self.files]
        self.files_written += len(new)
        self.bytes_written += sum(now[p] for p in new)
        self.files = now

    def amplification(self, ctx: Ctx) -> dict[str, float]:
        """write_amp: table bytes written per batch byte merged; space_amp:
        bytes on disk under the table roots per byte of the live versions."""
        from enterprise_data_warehouse_spark.sources.sink import read_table

        live = sum(os.path.getsize(f.removeprefix("file:"))
                   for root in (self.fact_root, self.dim_root)
                   for f in read_table(ctx.spark, str(root)).inputFiles())
        disk = sum(self.files.values())
        return {"write_amp": self.bytes_written / max(1, self.batch_bytes),
                "space_amp": disk / max(1, live),
                "files_written": self.files_written, "bytes_written": self.bytes_written}

    def check(self, ctx: Ctx) -> dict[str, list[str]]:
        """Final table state against DuckDB replaying every merged batch."""
        import duckdb
        from pyspark.sql import functions as F

        from enterprise_data_warehouse_spark.sources.sink import read_table

        used = self.batches[:self.next_batch]
        con = duckdb.connect()
        try:
            out = {}
            for name, root, base, key, cols, ts in (
                ("fact_merge", self.fact_root, f"SELECT * FROM read_parquet('{self.base}')",
                 FACT_KEY, FACT_COLS, "o_orderdate"),
                ("dim_merge", self.dim_root,
                 f"SELECT * FROM read_parquet('{ctx.tables / 'customer.parquet'}')",
                 DIM_KEY, DIM_COLS, None),
            ):
                files = [b["fact" if name == "fact_merge" else "dim"] for b in used]
                sel = [f"epoch_us({c}) AS {c}" if c == ts else c for c in cols]
                duck_rows = con.execute(
                    f"SELECT {', '.join(sel)} FROM ("
                    f"{checks.replay_sql(base, files, key, cols)})").fetchall()
                df = read_table(ctx.spark, str(root))
                spark_rows = [tuple(r) for r in df.select(
                    *[F.unix_micros(c).alias(c) if c == ts else F.col(c) for c in cols]
                ).collect()]
                out[name] = checks.state_problems(spark_rows, duck_rows)
            return out
        finally:
            con.close()


# nominal_*_s: about the wall time of one pass or cycle on a 4-core VM,
# untimed housekeeping between ops included; it turns --seconds into a fixed
# op count (README.md, "Workloads")
WORKLOADS = {
    "warehouse_queries": lambda: QueryWorkload(WAREHOUSE, nominal_pass_s=4.4),
    "corpus_dedup": lambda: QueryWorkload(CORPUS, nominal_pass_s=5.6),
    "fact_merge": lambda: FactMergeWorkload(nominal_cycle_s=4.3),
}
