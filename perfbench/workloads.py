"""The benchmark workloads: what one pass does and how its calls are
checked. Each workload drives the engine only through its public entry
points (the query registry, the CLI, the streaming functions).

A call is split in two: ``call`` is the timed part, which forces every
output column the way a user of that entry point would; ``check`` is
untimed and compares the output with a reference fixed in the first
(verify) pass.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import time

import duckdb
from pyspark.sql import functions as F

from bigdata_logs_spark import __main__ as cli
from bigdata_logs_spark import registry
from bigdata_logs_spark.caching import release_caches
from bigdata_logs_spark.operators.enrich import with_event_time
from bigdata_logs_spark.operators.parse import parse_ssh_lines
from bigdata_logs_spark.sources import load_table, read_ssh_log_text
from bigdata_logs_spark.streaming import (
    read_ssh_stream,
    run_stream_to_memory,
    windowed_event_counts,
)
from tools.oracle_check import table_hash

import datagen


def force(df):
    """Collect every row and column: the dashboard renders the whole
    result, so no column may be pruned away (a bare ``count()`` lets
    Catalyst drop every column nobody reads)."""
    return df.columns, [tuple(r) for r in df.collect()]


def digest(df):
    """Scan-side probe: an order-insensitive hash over every column,
    aggregated in the engine so only one row comes back."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    row = df.agg(F.sum(h).alias("h"), F.count(F.lit(1)).alias("n")).collect()[0]
    return row["h"], row["n"]


class Dashboard:
    """One pass is one dashboard refresh: each query forced in full,
    in a seed-permuted order, with tracked caches released after it."""

    name = "dashboard"
    QUERIES = (
        "entity_profile",
        "top_events_with_others",
        "regional_revenue",
        "order_price_outliers",
    )
    N_EVENTS = 10_000

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data_dir = os.path.join(work, "tables")
        self.ref: dict[str, str] = {}
        self.input_rows = 0

    def prepare(self) -> None:
        self.tables = datagen.make_tables(self.seed, self.N_EVENTS)
        self.input_rows = datagen.write_tables(self.tables, self.data_dir)

    def first_touch(self, spark) -> bool:
        """Open every input table and count the events table."""
        frames = {t: load_table(spark, self.data_dir, t) for t in self.tables}
        return frames["events"].count() == self.tables["events"].num_rows

    def pass_calls(self, pass_no: int) -> list[str]:
        order = list(self.QUERIES)
        random.Random(f"{self.seed}:{pass_no}").shuffle(order)
        return order

    def call(self, spark, tracer, name: str):
        with tracer.span("registry.build"):
            df = registry.REGISTRY[name].fn(spark, self.data_dir)
        with tracer.span("exec.force"):
            out = force(df)
        return out

    def reference(self, name: str, cols, rows) -> str:
        """The expected digest: the DuckDB oracle's where the query has
        one (and Spark must agree with it), else Spark's own first
        answer, which every later rep must repeat."""
        spark_hash = table_hash(cols, rows)
        oracle = registry.REGISTRY[name].oracle
        if oracle is None:
            return spark_hash
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            cur = con.execute(oracle)
            d_cols = [d[0] for d in cur.description]
            d_hash = table_hash(d_cols, cur.fetchall())
        finally:
            con.close()
        if sorted(d_cols) != sorted(cols) or d_hash != spark_hash:
            raise AssertionError(f"{name}: Spark disagrees with its DuckDB oracle")
        return d_hash

    def check(self, spark, name: str, out) -> bool:
        cols, rows = out
        if name not in self.ref:
            self.ref[name] = self.reference(name, cols, rows)
        return table_hash(cols, rows) == self.ref[name]

    # ---- traced-run probes
    def scan_probe(self, spark) -> tuple[float, int]:
        """Scan-only digest of every input table: (seconds, rows)."""
        t = time.perf_counter()
        rows = sum(digest(load_table(spark, self.data_dir, n))[1] for n in self.tables)
        return time.perf_counter() - t, rows

    def detect(self, spark) -> bool:
        """CLI ``detect``, run once in the traced run (outside the passes)."""
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["detect", "--sf-dir", self.data_dir])
        release_caches()
        return rc == 0 and "ssh incident report" in buf.getvalue()


class Ingest:
    """One pass runs the batch ETL a user runs (CLI ``parse``: text ->
    parse -> enrich -> date-partitioned parquet) and a streaming drain
    of the same files (file tail -> windowed counts -> memory sink)."""

    name = "ingest"
    N_LINES = 80_000
    N_FILES = 4
    FILES_PER_TRIGGER = 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.in_dir = os.path.join(work, "logs")
        self.store = os.path.join(work, "store")
        self.truth: dict = {}
        self.drains = 0
        self.files_written: list[int] = []

    @property
    def input_rows(self) -> int:
        return self.truth["lines"]

    def prepare(self) -> None:
        self.truth = datagen.make_syslog(self.seed, self.N_LINES, self.N_FILES, self.in_dir)

    def first_touch(self, spark) -> bool:
        return read_ssh_log_text(spark, self.in_dir).count() == self.truth["lines"]

    def pass_calls(self, pass_no: int) -> list[str]:
        return ["etl", "drain"]

    def call(self, spark, tracer, name: str):
        if name == "etl":
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf), tracer.span("cli.parse"):
                rc = cli.main(["parse", "--input", self.in_dir, "--output", self.store,
                               "--mode", "overwrite"])
            return rc, buf.getvalue()
        self.drains += 1
        sink = f"perfbench_drain_{self.drains}"
        with tracer.span("stream.drain"):
            parsed = read_ssh_stream(spark, self.in_dir,
                                     max_files_per_trigger=self.FILES_PER_TRIGGER)
            run_stream_to_memory(windowed_event_counts(parsed), sink)
        return sink

    def _per_event(self, df, count_col=None) -> dict[str, int]:
        agg = F.sum(count_col) if count_col else F.count(F.lit(1))
        return {r[0]: r[1] for r in df.groupBy("event").agg(agg).collect()}

    def check(self, spark, name: str, out) -> bool:
        """Both paths must reproduce the generator's ground truth. A
        drain that stopped at its deadline leaves a partial sink, so it
        fails here: its rows fall short of the rows generated."""
        if name == "etl":
            rc, text = out
            store = spark.read.parquet(self.store)
            self.files_written.append(sum(
                1 for _, _, fs in os.walk(self.store) for f in fs if f.endswith(".parquet")
            ))
            return (rc == 0
                    and f"store now holds {self.truth['valid']} events" in text
                    and self._per_event(store) == self.truth["events"])
        try:
            return self._per_event(spark.table(out), "n") == self.truth["events"]
        finally:
            spark.catalog.dropTempView(out)

    # ---- traced-run probes
    def scan_probe(self, spark) -> tuple[float, int]:
        t = time.perf_counter()
        _, n = digest(read_ssh_log_text(spark, self.in_dir))
        return time.perf_counter() - t, n

    def parse_probe(self, spark) -> tuple[float, int]:
        """Scan + parse + enrich, every parsed column hashed."""
        t = time.perf_counter()
        _, n = digest(with_event_time(parse_ssh_lines(read_ssh_log_text(spark, self.in_dir))))
        return time.perf_counter() - t, n


WORKLOADS = {w.name: w for w in (Dashboard, Ingest)}
