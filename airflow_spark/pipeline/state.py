"""Run-state store: the metadata-DB analog (runs + task instances).

The reference persists DAG runs / task instances / XCom in Postgres
(compose.yml:129-145). Here the engine appends one parquet record per
run under a local state dir, plus a retention vacuum (O13/K4 analog:
Airflow-Cleanup's 7-day file retention, dags/Airflow_Cleanup.py:46-58).

Records are appended WITHOUT Spark: a one-row Spark parquet write is a
whole write job, about 1 s of fixed cost per table on a 4-core local
session, paid on every run commit. Each append is one parquet file
written on the driver with pyarrow under a hidden temp name
(``.``-prefixed, which Spark's file listing skips) and ``os.replace``d
into place, so a reader sees an append whole or not at all; the state
dir is a local filesystem path. Reads (``runs``, ``xcom_pull``,
``run_stats``, ``sla_misses``) and ``vacuum`` stay on Spark: the
records are queryable with the engine they describe, and files Spark
wrote earlier (INT96 timestamps) read as the same table.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RUN_SCHEMA = T.StructType(
    [
        T.StructField("pipeline", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("started", T.TimestampType()),
        T.StructField("elapsed_s", T.DoubleType()),
        T.StructField("task_statuses", T.StringType()),  # JSON map
    ]
)

XCOM_SCHEMA = T.StructType(
    [
        T.StructField("pipeline", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("task", T.StringType()),
        T.StructField("value_json", T.StringType()),
        T.StructField("recorded", T.TimestampType()),
    ]
)


_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.DoubleType(): pa.float64(),
    # UTC-adjusted micros: Spark reads it back as TimestampType
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}


def _append(path: str, schema: T.StructType, rows: list[tuple]) -> None:
    """Append ``rows`` to the parquet table at ``path`` as one new file,
    published atomically by rename."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=pa.schema([(f.name, _ARROW_TYPES[f.dataType]) for f in schema]),
    )
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def _utc(ts: dt.datetime) -> dt.datetime:
    """``ts`` as aware UTC; naive means UTC already. pyarrow stores an
    aware datetime's wall clock as if it were UTC, so convert first."""
    return ts.astimezone(dt.timezone.utc) if ts.tzinfo else ts


def _run_row(pipeline_name: str, run) -> tuple:
    return (
        pipeline_name,
        run.run_id,
        run.status,
        _utc(run.started),
        float(run.elapsed),
        json.dumps(
            {
                k: {
                    "status": v.status,
                    "attempts": v.attempts,
                    "elapsed_s": v.elapsed,
                    "error": v.error,
                }
                for k, v in run.tasks.items()
            }
        ),
    )


# -- XCom persistence (Airflow metadata-DB XCom table analog,
# compose.yml:129-145): small JSON-serializable task outputs are
# durable per (pipeline, run_id, task), so a later run / backfill /
# resume can consume a prior run's outputs via ``xcom_pull`` or
# ``ctx.xcom_prev``. DataFrames and other non-JSON values are
# deliberately NOT persisted — heavy data belongs in table sinks,
# XCom is a control-plane channel.


def _xcom_rows(pipeline_name: str, run) -> list[tuple]:
    rows = []
    for task, val in (getattr(run, "outputs", None) or {}).items():
        try:
            payload = json.dumps(val)
        except (TypeError, ValueError):
            continue  # non-JSON output (e.g. a DataFrame): skip
        rows.append((pipeline_name, run.run_id, task, payload, _utc(run.started)))
    return rows


class RunStateStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        #: XCom table lives in an underscore-prefixed subdir so the
        #: ``runs()`` parquet read (which treats ``_*`` paths as hidden
        #: metadata) never mixes the two schemas.
        self.xcom_path = os.path.join(path, "_xcom")
        os.makedirs(path, exist_ok=True)

    def record_run(self, pipeline, run) -> None:
        _append(self.path, RUN_SCHEMA, [_run_row(pipeline.name, run)])
        xcoms = _xcom_rows(pipeline.name, run)
        if xcoms:
            _append(self.xcom_path, XCOM_SCHEMA, xcoms)

    def task_statuses(self, pipeline: str, run_id: str) -> dict:
        """Per-task status map of one recorded run (parsed from the
        run record's JSON column); {} when the run is unknown."""
        rows = (
            self.runs()
            .where(
                (F.col("pipeline") == pipeline)
                & (F.col("run_id") == run_id)
            )
            .orderBy(F.col("started").desc())
            .limit(1)
            .collect()
        )
        if not rows:
            return {}
        return json.loads(rows[0]["task_statuses"] or "{}")

    def run_ids(self, pipeline: str) -> list[str]:
        """All recorded run ids for a pipeline (collect is bounded by
        run count — control-plane scale, and vacuumed)."""
        try:
            return [
                r["run_id"]
                for r in self.runs()
                .where(F.col("pipeline") == pipeline)
                .select("run_id")
                .distinct()
                .collect()
            ]
        except Exception:
            return []

    def xcoms(self) -> DataFrame:
        return self.spark.read.schema(XCOM_SCHEMA).parquet(self.xcom_path)

    def xcom_pull(
        self,
        pipeline: str,
        task: str,
        run_id: str | None = None,
        default=None,
    ):
        """Value of ``task``'s persisted output for ``run_id`` (or the
        most recent run that recorded one). ``default`` when absent."""
        if not os.path.isdir(self.xcom_path):
            return default
        df = self.xcoms().where(
            (F.col("pipeline") == pipeline) & (F.col("task") == task)
        )
        if run_id is not None:
            df = df.where(F.col("run_id") == run_id)
        rows = df.orderBy(F.col("recorded").desc()).limit(1).collect()
        return json.loads(rows[0]["value_json"]) if rows else default

    def runs(self) -> DataFrame:
        return self.spark.read.schema(RUN_SCHEMA).parquet(self.path)

    def latest(self, pipeline: str):
        df = (
            self.runs()
            .where(F.col("pipeline") == pipeline)
            .orderBy(F.col("started").desc())
            .limit(1)
        )
        rows = df.collect()
        return rows[0] if rows else None

    def vacuum(self, retention: dt.timedelta, now: dt.datetime | None = None) -> int:
        """Drop run records older than ``retention`` (rewrite-compact).
        Returns rows kept. The destructive step is a state-table
        rewrite, never external file deletion."""
        now = now or dt.datetime.now(dt.timezone.utc)
        cutoff = (now - retention).replace(tzinfo=None)
        kept = self.runs().where(F.col("started") >= F.lit(cutoff))
        rows = kept.collect()  # state table is small by construction

        # write the kept rows FIRST, then swap the old files out: a
        # crash between delete and rewrite would otherwise lose the
        # whole run history (same swap discipline as sources/tables.py)
        def _swap(dirpath, schema, keep_rows):
            tmp = dirpath.rstrip("/") + ".__vacuum__"
            self.spark.createDataFrame(keep_rows, schema).coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            for f in os.listdir(dirpath):
                full = os.path.join(dirpath, f)
                if os.path.isfile(full):
                    os.remove(full)
            for f in os.listdir(tmp):
                src = os.path.join(tmp, f)
                if os.path.isfile(src):
                    os.rename(src, os.path.join(dirpath, f))
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)

        if rows:
            _swap(self.path, RUN_SCHEMA, rows)
        else:
            for f in os.listdir(self.path):
                full = os.path.join(self.path, f)
                if os.path.isfile(full):
                    os.remove(full)
        # same retention applies to the XCom table
        if os.path.isdir(self.xcom_path):
            xkept = self.xcoms().where(F.col("recorded") >= F.lit(cutoff)).collect()
            if xkept:
                _swap(self.xcom_path, XCOM_SCHEMA, xkept)
            else:
                for f in os.listdir(self.xcom_path):
                    full = os.path.join(self.xcom_path, f)
                    if os.path.isfile(full):
                        os.remove(full)
        return len(rows)


    # -- run analytics (the Airflow UI "DAG runs" panel as queries over
    # the engine's own store; SLA misses mirror Airflow's sla_miss
    # table, derived instead of event-driven)

    def run_stats(self) -> DataFrame:
        """Per-pipeline run statistics: totals, success rate, duration
        mean/p95, last run time — one grouped aggregate over the run
        records (control-plane-sized)."""
        return (
            self.runs()
            .groupBy("pipeline")
            .agg(
                F.count(F.lit(1)).alias("n_runs"),
                F.sum(
                    F.when(F.col("status") == "success", 1).otherwise(0)
                ).alias("n_success"),
                F.round(
                    F.avg(
                        F.when(F.col("status") == "success", 1.0).otherwise(
                            0.0
                        )
                    ),
                    4,
                ).alias("success_rate"),
                F.round(F.avg("elapsed_s"), 3).alias("mean_elapsed_s"),
                F.round(
                    F.percentile("elapsed_s", F.lit(0.95)), 3
                ).alias("p95_elapsed_s"),
                F.max("started").alias("last_started"),
            )
            .orderBy("pipeline")
        )

    def sla_misses(
        self, pipeline: str, max_duration_s: float
    ) -> DataFrame:
        """Runs that blew their duration SLA (Airflow's sla_miss
        analog, derived from the run records): returns (run_id,
        status, started, elapsed_s, overrun_s) for every run of
        ``pipeline`` slower than ``max_duration_s`` — failed runs
        count too (a failure after the SLA window is still a miss)."""
        return (
            self.runs()
            .where(
                (F.col("pipeline") == pipeline)
                & (F.col("elapsed_s") > float(max_duration_s))
            )
            .select(
                "run_id",
                "status",
                "started",
                "elapsed_s",
                F.round(
                    F.col("elapsed_s") - F.lit(float(max_duration_s)), 3
                ).alias("overrun_s"),
            )
            .orderBy("started")
        )
