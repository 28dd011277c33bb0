"""The benchmark's workloads, driven through the engine's public API.

Every workload is one client in a closed loop: the next operation starts when
the previous one has returned. A workload has five phases, all called by
``run.py``:

- ``prepare``: generate the inputs (runs while the JVM starts).
- ``mount``: catalogs and connectors (counts as set-up).
- ``warmup``: every operation at least once (counts as set-up; it fills the
  JIT, codegen and staging caches).
- ``run_pass``: one measured pass; ``run.py`` runs ``passes`` of them.
- ``final_check``: end-of-run correctness checks, outside the timed window.

Operations go through ``Runner.op`` (kind ``read``, ``write`` or ``drain``),
which times them, counts failures and, in a traced run, opens the
operation's root span and collects its Spark counters.
"""

from __future__ import annotations

import os
import random
import threading
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

# ---------------------------------------------------------------- tpch ----

TPCH_SF = 0.01
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
WARMUP_THREADS = 4


class Tpch:
    """The 22 ``tpch_*`` registry queries, each forced through the noop sink.

    Pass ``k`` runs them in registry order starting at offset ``k``, so the
    order rotates from pass to pass but not from seed to seed: the seed
    changes only the data. Staged artifacts (q11, q15, q20) are built in
    the warm-up and stay warm, so the measured passes only hit them."""

    name = "tpch"
    passes = 2

    def __init__(self, seed: int, data_dir: str):
        from lyft_presto_spark.queries import all_queries

        self.data_dir = data_dir
        self.queries = [q for name, q in all_queries().items() if name.startswith("tpch_")]
        self.seed = seed

    def prepare(self) -> None:
        datagen.write_tables(self.data_dir, self.seed, TPCH_SF)

    def mount(self, r) -> None:
        from lyft_presto_spark.session import load_table

        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            list(pool.map(lambda t: load_table(r.spark, self.data_dir, t), TPCH_TABLES))

    def warmup(self, r) -> None:
        """Two passes in the measured form: the cold one ``WARMUP_THREADS``
        queries at a time, then one a query at a time, as measured."""
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            list(pool.map(lambda q: r.op("read", q.name, lambda: self._force(r, q)), self.queries))
        self.run_pass(r, 0)

    def run_pass(self, r, k: int) -> None:
        n = len(self.queries)
        for q in self.queries[k % n:] + self.queries[: k % n]:
            r.op("read", q.name, lambda q=q: self._force(r, q))

    def _force(self, r, q) -> None:
        with r.span("Query.spark", "queries"):
            df = q.spark(r.spark, self.data_dir)
        with r.span("force", "spark"):
            df.write.format("noop").mode("overwrite").save()

    def final_check(self, r) -> None:
        """Every query's result against its DuckDB oracle."""
        from lyft_presto_spark.testing import compare_with_oracle

        def one(q):
            r.check(q.name, lambda: compare_with_oracle(
                q.spark(r.spark, self.data_dir), q.oracle, self.data_dir, name=q.name
            ))

        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            list(pool.map(one, self.queries))


# -------------------------------------------------------- ingest_serve ----

LIVE_TABLE = "orders_live"
WINDOW_ROWS = 4000  # live keys after each delete; the table never outgrows WINDOW_ROWS + 3 * BATCH_ROWS
BATCH_ROWS = 400  # rows per insert; the delete retires three batches
MERGE_ROWS = 300  # contiguous keys updated by the merge
EVENTS_PER_WRITE = 4000  # streamed events landed after each write
CYCLE = ("insert", "insert", "merge", "insert", "delete", "optimize")
READ_ROUNDS = 2  # rounds of four reads after each drain: 48 reads per pass
WARMUP_READ_ROUNDS = 3
_GEN_ROWS_HEADROOM = 10_000_000
_EVENT_DAY_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000


class IngestServe:
    """A live orders table fed from the ``tpchgen`` connector.

    Keys live in a sliding window ``[lo, hi)``: each insert generates the
    next ``BATCH_ROWS`` keys, the merge rewrites a seeded run of live keys
    (status ``U``, price + 1.0), the delete retires the three oldest batches
    and ``optimize`` compacts the small files the appends left, so the
    table's size is the same at the end of every cycle. After each write one
    file of seeded events lands in a stream source and an availableNow drain
    with a checkpoint folds only that file into the ``tumbling_counts``
    state (events fall in one fixed day, so the state stays bounded).
    After each drain come ``READ_ROUNDS`` rounds of four Presto-dialect
    reads through ``presto_sql``: a point lookup, a key-range aggregate, an
    ``approx_distinct`` group-by and ``SHOW COLUMNS``. Every read is checked
    against an in-memory model of the table replayed from the same cycle."""

    name = "ingest_serve"
    passes = 1

    def __init__(self, seed: int, data_dir: str, table: str = LIVE_TABLE):
        self.seed = seed
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.data_dir = data_dir
        self.table = table
        self.base = (seed % 1000) * 1_000_000
        self.lo = self.base
        self.hi = self.base + WINDOW_ROWS
        self.model: dict[int, tuple] = {}
        self.events_dir = os.path.join(data_dir, f"{table}_events")
        self.checkpoint = os.path.join(data_dir, f"{table}_checkpoint")
        self.stream_name = f"{table}_tumbling"
        self.events_landed = 0

    # -- inputs -----------------------------------------------------------

    def _model_row(self, key: int) -> tuple:
        from lyft_presto_spark.sources.tpch_datasource import orders_row

        return orders_row(key)

    def _generate(self, r, lo: int, hi: int):
        """Generate keys [lo, hi) with the tpchgen connector and land them
        as a materialized batch (the micro-batch an ingest writes)."""
        with r.span("tpchgen.generate", "tpchgen"):
            df = (
                r.spark.read.format("tpchgen")
                .option("table", "orders")
                .option("rows", str(self.base + _GEN_ROWS_HEADROOM))
                .option("partitions", "2")
                .load()
                .filter(f"o_orderkey >= {lo} AND o_orderkey < {hi}")
                .localCheckpoint(eager=True)
            )
        r.count("tpchgen.rows", hi - lo)
        return df

    def _land_events(self) -> None:
        n = EVENTS_PER_WRITE
        t = datagen.events_table(self.np_rng, n, self.events_landed, _EVENT_DAY_US, _DAY_US, 1500)
        t = t.set_column(1, "ts", pc.multiply(t.column("ts").cast("int64"), 1000))
        pq.write_table(t, os.path.join(self.events_dir, f"events-{self.events_landed:09d}.parquet"))
        self.events_landed += n

    # -- phases -----------------------------------------------------------

    def prepare(self) -> None:
        pass

    def mount(self, r) -> None:
        """Register the connector and create the live table and, for the
        warm-up, its twin (both at once)."""
        from lyft_presto_spark.sources.tpch_datasource import register_tpchgen

        register_tpchgen(r.spark)
        self.twin = IngestServe(self.seed + 1, self.data_dir, table=f"{self.table}_warmup")
        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(t._create, r) for t in (self, self.twin)]:
                f.result()

    def _create(self, r) -> None:
        from lyft_presto_spark.sources.write_path import ctas

        os.makedirs(self.events_dir, exist_ok=True)
        r.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        ctas(r.spark, self._generate(r, self.lo, self.hi), self.table, os.path.join(self.data_dir, self.table))
        self.model = {k: self._model_row(k) for k in range(self.lo, self.hi)}

    def warmup(self, r) -> None:
        """Every operation kind at least once, on two threads: the write
        steps on the twin table, and a drain of the first event file plus
        rounds of checked reads on the live table, at least
        ``WARMUP_READ_ROUNDS`` and more while the writes last (so the reads'
        warm-up costs no set-up time). Their keys come from a generator of
        their own, so the measured pass's inputs do not depend on how many
        rounds fit."""
        writes_done = threading.Event()

        def writes():
            try:
                for step in ("insert", "merge", "delete", "optimize"):
                    r.op("write", step, lambda step=step: self.twin._write(r, step))
            finally:
                writes_done.set()

        def drain_and_read():
            self._land_events()
            r.op("drain", "drain", lambda: self._drain(r), layer="streaming")
            rng, rounds = random.Random(-self.seed), 0
            while rounds < WARMUP_READ_ROUNDS or not writes_done.is_set():
                self._read_round(r, rng)
                rounds += 1

        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(writes), pool.submit(drain_and_read)]:
                f.result()

    def run_pass(self, r, k: int) -> None:
        for step in CYCLE:
            r.op("write", step, lambda step=step: self._write(r, step))
            self._land_events()
            r.op("drain", "drain", lambda: self._drain(r), layer="streaming")
            for _ in range(READ_ROUNDS):
                self._read_round(r)

    def _read_round(self, r, rng: random.Random | None = None) -> None:
        for name, sql, check in self._reads(rng or self.rng):
            if r.tracing:
                with r.overhead():
                    r.sample("write_path.table_files", len(r.spark.table(self.table).inputFiles()))
            r.op("read", name, lambda sql=sql: self._read(r, sql), check=check)

    def _write(self, r, step: str) -> None:
        from lyft_presto_spark.sources import write_path as wp

        if step == "insert":
            wp.insert_into(r.spark, self._generate(r, self.hi, self.hi + BATCH_ROWS), self.table)
            self.model.update((k, self._model_row(k)) for k in range(self.hi, self.hi + BATCH_ROWS))
            self.hi += BATCH_ROWS
        elif step == "merge":
            k0 = self.rng.randrange(self.lo, self.hi - MERGE_ROWS)
            src = self._generate(r, k0, k0 + MERGE_ROWS).selectExpr(
                "o_orderkey", "o_custkey", "'U' AS o_orderstatus",
                "o_totalprice + 1.0 AS o_totalprice", "o_orderdate", "o_orderpriority",
            )
            wp.merge_into(r.spark, self.table, src, on=("o_orderkey",))
            for key in range(k0, k0 + MERGE_ROWS):
                row = self._model_row(key)
                self.model[key] = (row[0], row[1], "U", row[3] + 1.0, row[4], row[5])
        elif step == "delete":
            cut = self.lo + 3 * BATCH_ROWS
            wp.delete_where(r.spark, self.table, f"o_orderkey < {cut}")
            for key in range(self.lo, cut):
                self.model.pop(key, None)
            self.lo = cut
        else:
            wp.optimize_table(r.spark, self.table)

    def _drain(self, r) -> dict:
        from lyft_presto_spark.streaming import stream_events, tumbling_counts

        counts = tumbling_counts(stream_events(r.spark, self.events_dir))
        q = (
            counts.writeStream.format("memory")
            .queryName(self.stream_name)
            .outputMode("complete")
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream drain failed: {q.exception()}")
        return {"run_id": str(q.runId), "progress": q.recentProgress}

    def _reads(self, rng: random.Random):
        k = rng.randrange(self.lo, self.hi)
        a = rng.randrange(self.lo, self.hi - 200)
        b = a + rng.randrange(50, 200)
        model, t = self.model, self.table
        yield (
            "point_lookup",
            f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM {t} WHERE o_orderkey = {k}",
            lambda rows: [tuple(x) for x in rows] == [model[k][:4]],
        )
        yield (
            "range_aggregate",
            f"SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(12, 2))) AS revenue, "
            f"date_format(max(o_orderdate), '%Y-%m-%d') AS last_day "
            f"FROM {t} WHERE o_orderkey BETWEEN {a} AND {b}",
            lambda rows: tuple(rows[0]) == _range_expect(model, a, b),
        )
        yield (
            "approx_distinct_groupby",
            f"SELECT o_orderpriority, approx_distinct(o_custkey) AS customers, count(*) AS n "
            f"FROM {t} GROUP BY o_orderpriority",
            lambda rows: _groupby_ok(model, rows),
        )
        yield (
            "show_columns",
            f"SHOW COLUMNS FROM {t}",
            lambda rows: [x[0] for x in rows]
            == ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
        )

    def _read(self, r, sql: str) -> list:
        from lyft_presto_spark.functions.presto import presto_sql

        df = presto_sql(r.spark, sql)
        with r.span("collect", "spark"):
            return df.collect()

    def final_check(self, r) -> None:
        r.check("final_table", lambda: self._check_table(r.spark))
        r.check("stream_vs_batch", lambda: self._check_stream(r.spark))

    def _check_table(self, spark) -> None:
        got = sorted(tuple(x) for x in spark.table(self.table).collect())
        want = sorted(self.model.values())
        if got != want:
            raise AssertionError(f"{self.table} has {len(got)} rows, replayed model {len(want)}; contents differ")

    def _check_stream(self, spark) -> None:
        from pyspark.sql import functions as F

        from lyft_presto_spark.streaming.events_stream import EVENTS_SCHEMA

        batch = (
            spark.read.schema(EVENTS_SCHEMA).parquet(self.events_dir)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
                F.approx_count_distinct("user_id").alias("approx_users"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value", "approx_users")
        )
        streamed = sorted(map(tuple, spark.table(self.stream_name).collect()))
        expect = sorted(map(tuple, batch.collect()))
        if not expect or streamed != expect:
            raise AssertionError(f"streamed rollup ({len(streamed)} rows) != batch rollup ({len(expect)} rows)")


def _range_expect(model: dict, a: int, b: int) -> tuple:
    rows = [model[k] for k in range(a, b + 1) if k in model]
    revenue = sum((Decimal(repr(x[3])).quantize(Decimal("0.01")) for x in rows), Decimal("0.00"))
    last = max(x[4] for x in rows).strftime("%Y-%m-%d") if rows else None
    return (len(rows), revenue if rows else None, last)


def _groupby_ok(model: dict, rows) -> bool:
    counts: dict[str, int] = {}
    for x in model.values():
        counts[x[5]] = counts.get(x[5], 0) + 1
    return {x[0]: x[2] for x in rows} == counts and all(0 < x[1] <= x[2] for x in rows)


WORKLOADS = {w.name: w for w in (Tpch, IngestServe)}
