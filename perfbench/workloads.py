"""The benchmark's workloads: what one pass runs and how its outputs
are checked.

An operation is one catalog query (plan build, then a parquet write of
every output column), one streaming micro-batch, or one read of the
versioned table's head. A pass runs a workload's operations once, over
one input copy, and leaves its outputs in the pass's output directory;
the checks read those outputs after the pass, outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

from inputs import permuted_tables, sampled_events

from anti_money_laundering_spark.plans.catalog import get_catalog


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    build_s: float = 0.0


@dataclass
class Check:
    name: str
    ok: bool
    rows: int = 0
    detail: str = ""


class _NoTrace:
    def span(self, name, layer):
        return nullcontext()


NO_TRACE = _NoTrace()


def _failed(name: str) -> str:
    tb = traceback.format_exc()
    print(f"{name} failed:\n{tb}", file=sys.stderr, flush=True)
    return tb.strip().splitlines()[-1]


def _duck(inp: Path, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp / t}.parquet')")
    return con


def _oracle_check(con, name: str, got) -> Check:
    """``got`` against the catalog query's DuckDB oracle; an empty
    result proves nothing and fails."""
    from tests.oracle_utils import compare

    try:
        rows = compare(got, con, get_catalog()[name].oracle)
        return Check(name, rows > 0, rows, "" if rows else "empty result")
    except Exception:
        return Check(name, False, detail=_failed(name))


class CatalogWorkload:
    """Catalog queries over a permuted copy of fixture tables."""

    def __init__(self, queries: tuple[str, ...], tables: tuple[str, ...],
                 read_tables: tuple[str, ...]) -> None:
        self.queries = queries
        self.tables = tables
        self.read_tables = read_tables

    def make_input(self, dest: Path, seed: int, copy: int) -> int:
        rows = permuted_tables(dest, self.tables, seed, copy)
        return sum(rows[t] for t in self.read_tables)

    def run_pass(self, spark, inp: Path, out: Path, trace=NO_TRACE) -> list[Op]:
        catalog = get_catalog()
        ops = []
        for name in self.queries:
            t0 = time.perf_counter()
            t1 = t0
            try:
                with trace.span(f"plans.build.{name}", "plans"):
                    df = catalog[name].fn(spark, str(inp))
                t1 = time.perf_counter()
                with trace.span(f"plans.action.{name}", "plans"):
                    df.write.mode("overwrite").parquet(str(out / name))
                ok = True
            except Exception:
                _failed(name)
                ok = False
            ops.append(Op(name, time.perf_counter() - t0, ok, t1 - t0))
        return ops

    def check(self, spark, inp: Path, out: Path, ops: list[Op]) -> list[Check]:
        """Each written output against its DuckDB oracle over the pass's
        input files."""
        con = _duck(inp, self.tables)
        try:
            return [
                _oracle_check(con, op.name, spark.read.parquet(str(out / op.name)))
                for op in ops
                if op.ok
            ]
        finally:
            con.close()


class StreamMonitor:
    """Events replayed as time-ordered micro-batch files, drained with
    ``availableNow`` through two stateful screens: the running totals are
    upserted into a versioned table whose head is then read back, and
    the coordination cells go to a memory table."""

    n_files = 2

    def make_input(self, dest: Path, seed: int, copy: int) -> int:
        from anti_money_laundering_spark.plans.feature_queries import _COORD_MIN_SENDERS

        return sampled_events(dest, seed, copy, self.n_files, _COORD_MIN_SENDERS)

    def run_pass(self, spark, inp: Path, out: Path, trace=NO_TRACE) -> list[Op]:
        from anti_money_laundering_spark.plans.feature_queries import _COORD_MIN_SENDERS
        from anti_money_laundering_spark.sources.versioned import VersionedTable
        from anti_money_laundering_spark.streaming import (
            coordinated_amounts_stream,
            read_events_stream,
            stateful_user_totals,
        )

        replay = str(inp / "replay")
        queries = []
        try:
            table = VersionedTable(str(out / "totals"))
            # both screens run at once, as deployed side by side
            with trace.span("stream.screens", "bench"):
                queries.append(
                    stateful_user_totals(read_events_stream(spark, replay))
                    .writeStream.foreachBatch(table.stream_sink(on=["user_id"]))
                    .option("checkpointLocation", str(out / "ckpt_totals"))
                    .outputMode("update")
                    .trigger(availableNow=True)
                    .start()
                )
                coord = coordinated_amounts_stream(
                    read_events_stream(spark, replay), min_senders=_COORD_MIN_SENDERS
                )
                queries.append(
                    coord.writeStream.format("memory")
                    .queryName(self.coord_table(out))
                    .option("checkpointLocation", str(out / "ckpt_coord"))
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                for q in queries:
                    q.awaitTermination()
            with trace.span("versioned.read_head", "bench"):
                table.read(spark).write.format("noop").mode("overwrite").save()
        except Exception:
            _failed("stream pass")
            for q in queries:
                q.stop()
            return [Op("stream pass", 0.0, False)]
        # the head read counts in the pass time, not as an operation
        return [
            Op("batch", p.durationMs["triggerExecution"] / 1000.0, True)
            for q in queries
            for p in q.recentProgress
        ]

    @staticmethod
    def coord_table(out: Path) -> str:
        return f"coord_{out.name}"

    def check(self, spark, inp: Path, out: Path, ops: list[Op]) -> list[Check]:
        """The batch faces against their DuckDB oracles, and the pass's
        stream outputs against the batch faces."""
        from pyspark.sql import functions as F

        from anti_money_laundering_spark.sources.versioned import VersionedTable

        if not all(op.ok for op in ops):
            return []
        catalog = get_catalog()
        totals_face = catalog["stream_user_totals"].fn(spark, str(inp))
        coord_face = catalog["stream_coordinated_amounts"].fn(spark, str(inp))
        con = _duck(inp, ("events",))
        try:
            checks = [
                _oracle_check(con, "stream_user_totals", totals_face),
                _oracle_check(con, "stream_coordinated_amounts", coord_face),
            ]
        finally:
            con.close()

        def rows(df, cols):
            return sorted(tuple(r[c] for c in cols) for r in df.collect())

        # the upserted head holds the lifetime totals, one row per user
        try:
            cols = ["user_id", "total_value", "n_events", "alert"]
            head = VersionedTable(str(out / "totals")).read(spark).select(
                "user_id", F.round("total_value", 2).alias("total_value"), "n_events", "alert"
            )
            got, want = rows(head, cols), rows(totals_face, cols)
            checks.append(Check("versioned_head", got == want and len(got) > 0, len(got),
                                "" if got == want else "head differs from batch totals"))
        except Exception:
            checks.append(Check("versioned_head", False, detail=_failed("versioned_head")))

        # Append mode emits a day once the watermark (max ts - 25 h)
        # passes its end: compare the days closed for certain, cutting
        # boundary-exact windows on both sides (tests/test_streaming.py).
        try:
            max_ts = spark.read.parquet(str(inp / "replay")).agg(F.max("ts")).collect()[0][0]
            wm = max_ts // 1000 - 25 * 3_600_000_000 - 1_000_000
            horizon = dt.datetime.fromtimestamp(wm / 1e6, dt.timezone.utc) - dt.timedelta(days=1)
            cut = F.col("day") <= horizon.strftime("%Y-%m-%d")
            cols = ["cents", "day", "n_senders"]
            got = rows(spark.table(self.coord_table(out)).filter(cut), cols)
            want = rows(coord_face.filter(cut), cols)
            checks.append(Check("coordinated_stream", got == want and len(got) > 0, len(got),
                                "" if got == want else "emitted cells differ from batch face"))
        except Exception:
            checks.append(Check("coordinated_stream", False, detail=_failed("coordinated_stream")))
        return checks


WORKLOADS = {
    "batch_catalog": CatalogWorkload(
        (
            # the monitoring team's daily AML screens
            "aml_alert_feed",
            "linkage_entity_clusters",
            "funds_tracing_alerts",
            "passthrough_funds_alerts",
            "corridor_concentration_alerts",
            # training-corpus curation
            "dedup_minhash_near_dups",
            "tfidf_similar_pairs",
            "ann_lsh_topk",
            "kmeans_lloyd_assignments",
        ),
        (
            "customer", "events", "lineitem", "nation", "orders", "supplier", "part", "region",
            "documents", "embeddings",
        ),
        (
            "customer", "events", "lineitem", "nation", "orders", "supplier", "documents",
            "embeddings",
        ),
    ),
    "stream_monitor": StreamMonitor(),
}
