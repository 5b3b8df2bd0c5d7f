"""The benchmark's workloads.

Each workload prepares its inputs from the seed, hands out the ops of
one pass (each op is a builder call plus an action), and checks the
engine's outputs against DuckDB once the timed passes are over.

- ``fraud_stream``: the paper's three pipelines. EP2 (sliding mean
  under bounded disorder) and F5 (running-sum alerts) are built
  directly from ``streaming.jobs`` / ``streaming.stateful``; EP1 (1 h
  tumbling sum) runs through its registered replay face.
- ``registry_batch``: one batch query per operator module, drawn by
  the seed from cost-matched pools of queries that have an oracle.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import duckdb

import gen

# EP1 as a registered replay face: the 1 h tumbling sum through the face
# lifecycle (scratch dir, chunk cache, sentinel, memory sink). Each call
# leaves its memory-sink table behind.
FACE = "stream_tumble_sum_1h_replay"

# Per operator module, oracle-backed queries whose warm cost at sf0.01
# on a 4-core box lies within 2x of the module's cheapest (README.md has
# the probe). Drawing inside a cost-matched pool keeps the work of a
# pass nearly seed-independent. Left out: streamface (fraud_stream runs
# a face); graph and retrieval, whose first call builds an index for
# 9-13 s; and pq, whose queries cost 1-2 s warm and 3.4 s cold. The run
# budget holds none of them.
POOLS = {
    "asof": ("range_join_price_band", "interval_join_click_purchase"),
    "dedup": ("doc_fingerprint", "dedup_exact"),
    "detectors": ("project_account_amount", "project_account_amount_ts", "filter_amount_gt_1000"),
    "layout": ("events_zorder_slice",),
    "multimodal": ("multimodal_metadata",),
    "olap": ("unpivot_customer_metrics", "customers_with_orders_semi", "grouping_sets_events"),
    "pipeline": ("source_cap_docs",),
    "relational": ("top10_orders", "order_priority_by_status", "tpch_q6_forecast_revenue"),
    "sampling": ("split_train_val_test", "stratified_sample_docs", "weighted_sample_docs"),
    "similarity": ("label_centroid_components", "ann_cosine_topk"),
    "skew": ("event_type_stats_salted",),
    "sqlapi": ("sql_doc_chunk_windows", "sql_tumble_sum_3s"),
    "stateful": ("count_or_time_global_1h_10", "count_or_time_user_1d_3"),
    "temporal": ("cdc_upsert_snapshot", "cdc_snapshot_asof", "temporal_join_purchase_status"),
    "text": ("doc_token_stats", "doc_quality_score", "doc_chunk_windows"),
    "timeseries": ("event_deltas", "moving_avg_5_events"),
    "tpch": ("tpch_q12_late_shipment_priority", "tpch_q13_customer_order_distribution",
             "tpch_q4_order_priority"),
    "windows": ("tumble_sum_5s", "tumble_sum_5m", "tumble_mean_3s"),
}

# fraud_stream input: the events table at sf0.05 (50k events) over two
# chunks, plus one terminal sentinel chunk
STREAM_SF = 0.05
STREAM_CHUNKS = 2
DEFER_TAIL_MS = 20_000  # EP2's bounded disorder; its watermark covers it
F5_THRESHOLD = 500.0
SENTINEL_AFTER_US = 7 * 86_400_000_000


@dataclass
class Op:
    """One closed-loop operation: ``build()`` is the builder call,
    ``run(built)`` the action; ``run`` returns the progress dicts of
    any streaming query it ran itself."""

    name: str
    kind: str  # "stream" | "face" | "registry"
    build: Callable[[], Any]
    run: Callable[[Any], list]


def noop_write(df) -> list:
    df.write.format("noop").mode("overwrite").save()
    return []


def noop_drain(sdf) -> list:
    """Drain the finite replay into the noop sink; return its progress."""
    q = sdf.writeStream.format("noop").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return list(q.recentProgress or [])


def frame_mismatch(df, con, sql: str) -> str | None:
    """None when the Spark rows equal the DuckDB rows as multisets,
    compared exactly inside DuckDB (for outputs too large to sort in
    Python; float columns are rounded to 6 dp on both sides)."""
    con.register("spark_out", df.toPandas())
    cols = ", ".join(sorted(df.columns))
    n_spark = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
    n_ref = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    if n_spark != n_ref:
        return f"row count {n_spark} vs {n_ref}"
    extra = con.execute(
        f"SELECT {cols} FROM spark_out EXCEPT ALL SELECT {cols} FROM ({sql})"
    ).fetchmany(1)
    return f"spark row {extra[0]} not in the reference" if extra else None


def oracle_mismatch(df, con, sql: str) -> str | None:
    """None when the Spark rows equal the DuckDB rows (testing.compare)."""
    from flink_fraud_detection_rocks_db_app_spark.testing import compare

    rows = [tuple(r) for r in df.collect()]
    res = con.execute(sql)
    return compare(rows, df.columns, res.fetchall(), [d[0] for d in res.description])


def run_checks(checks: dict[str, Callable[[], str | None]]) -> dict[str, str | None]:
    """Run the gate's checks side by side (they are outside the timed
    passes); an exception is a failed check."""
    from concurrent.futures import ThreadPoolExecutor

    def guarded(check):
        try:
            return check()
        except Exception as e:
            return f"{type(e).__name__}: {e}"[:300]

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {n: pool.submit(guarded, c) for n, c in checks.items()}
        return {n: f.result() for n, f in futures.items()}


class Workload:
    name = ""
    tables: tuple[str, ...] | None = None
    sf = 0.01

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.data = ""
        self.info: dict[str, float] = {}

    def prepare(self, spark, rep: int) -> None:
        """Write this run's inputs; called several times, the last one wins."""
        self.data = os.path.join(self.work, f"data{rep}")
        shutil.rmtree(self.data, ignore_errors=True)
        gen.generate(self.data, self.seed, self.sf, self.tables)

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def gate(self, spark, last: dict[str, Any]) -> dict[str, str | None]:
        """{check name: None if correct else the first difference}."""
        raise NotImplementedError


class RegistryBatch(Workload):
    """Ops are registered batch queries run through the noop sink; the
    gate compares the last warm pass's outputs with their oracles."""

    name = "registry_batch"

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        rng = random.Random(seed)
        self.names = tuple(rng.choice(POOLS[module]) for module in sorted(POOLS))

    def ops(self, spark) -> list[Op]:
        from flink_fraud_detection_rocks_db_app_spark import registry

        # a drawn name the registry no longer has is a failed op
        return [
            Op(n, "registry", (lambda n=n: registry.get(n).fn(spark, self.data)), noop_write)
            for n in self.names
        ]

    def gate(self, spark, last):
        from flink_fraud_detection_rocks_db_app_spark import registry
        from flink_fraud_detection_rocks_db_app_spark.testing import duck_con

        def check(name: str) -> str | None:
            con = duck_con(self.data)
            try:
                return oracle_mismatch(last[name], con, registry.get(name).oracle)
            finally:
                con.close()

        return run_checks({n: (lambda n=n: check(n)) for n in self.names})


class FraudStream(Workload):
    name = "fraud_stream"
    tables = ("events",)
    sf = STREAM_SF

    def prepare(self, spark, rep):
        import time

        from flink_fraud_detection_rocks_db_app_spark.streaming import replay

        super().prepare(spark, rep)
        t0 = time.perf_counter()
        base = os.path.join(self.work, f"replay{rep}")
        shutil.rmtree(base, ignore_errors=True)
        common = dict(n_chunks=STREAM_CHUNKS)
        self.in_order = replay.write_replay_chunks(
            spark, self.data, os.path.join(base, "in_order"), **common
        )
        self.deferred = replay.write_replay_chunks(
            spark, self.data, os.path.join(base, "deferred"), defer_tail_ms=DEFER_TAIL_MS, **common
        )
        end_us = replay.max_chunk_t_us(self.in_order) + SENTINEL_AFTER_US
        for chunks in (self.in_order, self.deferred):
            replay.append_sentinel_chunk(chunks, end_us)
        self.info["replay.write_s"] = time.perf_counter() - t0
        self.info["replay.rows"] = float(
            duckdb.sql(f"SELECT count(*) FROM '{self.in_order}/*.parquet'").fetchone()[0]
        )

    def pipelines(self, spark) -> list[tuple[str, Callable[[], Any]]]:
        from pyspark.sql import functions as F

        from flink_fraud_detection_rocks_db_app_spark.streaming import (
            read_replay_stream,
            running_sum_alerts_stream,
            windowed_agg_stream,
        )

        return [
            ("ep2_slide_50s_10s_mean", lambda: windowed_agg_stream(
                read_replay_stream(spark, self.deferred), 50_000, 10_000,
                watermark=f"{DEFER_TAIL_MS // 1000} seconds",
                aggs=[F.avg("amount").alias("mean_amount")],
            )),
            ("f5_running_sum_alerts", lambda: running_sum_alerts_stream(
                read_replay_stream(spark, self.in_order), F5_THRESHOLD,
            )),
        ]

    def ops(self, spark):
        from flink_fraud_detection_rocks_db_app_spark import registry

        face = registry.get(FACE)
        return [Op(n, "stream", b, noop_drain) for n, b in self.pipelines(spark)] + [
            Op(FACE, "face", lambda: face.fn(spark, self.data), noop_write)
        ]

    def gate(self, spark, last):
        """Each pipeline once into a memory sink, compared with DuckDB
        over the same chunk files; the benchmark's tables are dropped.
        The face's last warm output is compared with its oracle."""
        from pyspark.sql import functions as F

        from flink_fraud_detection_rocks_db_app_spark import registry
        from flink_fraud_detection_rocks_db_app_spark.operators.stateful import sql_running_alerts
        from flink_fraud_detection_rocks_db_app_spark.operators.windows import sql_slide
        from flink_fraud_detection_rocks_db_app_spark.streaming import SENTINEL_ACCOUNT

        oracles = {
            "ep2_slide_50s_10s_mean": (self.deferred, "mean_amount", sql_slide(
                50_000, 10_000, "round(AVG(value), 6) AS mean_amount",
            )),
            "f5_running_sum_alerts": (self.in_order, None, sql_running_alerts(
                F5_THRESHOLD, mean=False,
            )),
        }
        def pipeline_check(name: str, build) -> str | None:
            chunks, round_col, sql = oracles[name]
            table = f"perfbench_gate_{name}"
            con = duckdb.connect()
            try:
                q = build().writeStream.format("memory").queryName(table).start()
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
                df = spark.table(table).where(F.col("account_id") != SENTINEL_ACCOUNT)
                if round_col:
                    df = df.withColumn(round_col, F.round(round_col, 6))
                con.execute(
                    "CREATE VIEW events AS SELECT account_id AS user_id, "
                    "make_timestamp(t_us) AS ts, amount AS value, event_id "
                    f"FROM '{chunks}/*.parquet' WHERE account_id <> {SENTINEL_ACCOUNT}"
                )
                return frame_mismatch(df, con, sql)
            finally:
                con.close()
                spark.catalog.dropTempView(table)

        def face_check() -> str | None:
            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.data}/events.parquet'")
                return oracle_mismatch(last[FACE], con, registry.get(FACE).oracle)
            finally:
                con.close()

        checks = {n: (lambda n=n, b=b: pipeline_check(n, b)) for n, b in self.pipelines(spark)}
        checks[FACE] = face_check
        return run_checks(checks)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (FraudStream, RegistryBatch)
}
