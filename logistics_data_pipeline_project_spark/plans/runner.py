"""dbt-style model runner (SURVEY §3.2's Spark re-architecture and §4
custom-work item 2): a registry of DataFrame-producing model functions
with declared dependencies, toposorted and executed with a thread pool
(mirroring dbt ``threads: 3`` / the Airflow fan-out at
dags/snowflake-EDW-ETL-dag.py:549-561), each materialized per its config:

- ``view``         → temp view (dbt materialized='view')
- ``table``        → atomic parquet overwrite (CTAS)
- ``incremental``  → first run CTAS; then source-watermark + merge by
                     unique_key (dbt incremental_strategy='merge', §M5)
- ``snapshot``     → SCD2 history via operators.merge.scd2_apply (§M6)

Every model run records a row for the ETL_AUDIT_LOG table (§M7,
dbt/.../macros/log_audit_event.sql:1-21): model, run id, status, started/
finished timestamps, rows processed. The rows of one ``run()`` are
committed together, as ONE append when the run ends; a FAILED row is
committed at once (with the rows buffered before it) so the
``on_failure`` hook always finds it in the log.

A model with ``checks`` (other than a view) is computed once: its output
is checkpointed, and both the checks and the write read the checkpoint,
so the rows committed are exactly the rows the checks passed.

Threading note: Spark sessions are thread-safe for job submission; running
independent models concurrently lets the scheduler interleave their stages
exactly like dbt's thread pool does against a warehouse.
"""

from __future__ import annotations

import datetime as dt
import threading
import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Row, SparkSession, functions as F

from ..operators.checkpoints import checkpointed_write
from ..operators.merge import dedup_latest, merge_upsert, scd2_apply
from .materialize import TableStore

AUDIT_TABLE = "etl_audit_log"

#: model fn signature: (spark, resolve) -> DataFrame, where resolve(name)
#: returns a dependency's DataFrame (ref()) — reading the *materialized*
#: table, matching the reference's through-storage stage chaining
#: (SURVEY §3.3 step 3).
ModelFn = Callable[[SparkSession, Callable[[str], DataFrame]], DataFrame]


@dataclass
class Model:
    name: str
    fn: ModelFn
    deps: Sequence[str] = field(default_factory=tuple)
    materialization: str = "table"  # view | table | incremental | snapshot
    unique_key: str | None = None  # incremental merge / snapshot key
    watermark_col: str | None = None  # incremental high-watermark column
    tracked_cols: Sequence[str] = field(default_factory=tuple)  # snapshot
    dedup_order: Sequence[str] = field(default_factory=tuple)  # pre-merge dedup
    #: dbt-style data tests, gated BEFORE the write: a callable over the
    #: model's output returning quality.CheckResult rows; any failed check
    #: aborts the model (FAILED audit + on_failure alert) with the store
    #: untouched — stricter than dbt, which materializes first and tests
    #: after, leaving bad data committed when a test fails.
    checks: Callable[[DataFrame], Sequence] | None = None


class DataQualityError(Exception):
    """A model's constraint suite failed; carries the failed CheckResults."""

    def __init__(self, model: str, failed: Sequence):
        self.failed = list(failed)
        detail = "; ".join(
            f"{r.name}[{r.table}]={r.violations} violations" for r in self.failed
        )
        super().__init__(f"model {model!r} failed data-quality checks: {detail}")


class ModelRunner:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        threads: int = 3,
        on_failure: Callable[[str, str, Exception], None] | None = None,
    ):
        """``on_failure(model_name, run_id, exc)`` is the K10 failure-alert
        hook (dags/utils/aws_utils.py:6-38 publishes to SNS; here any
        callable — pager, log shipper — can subscribe). It fires after the
        FAILED audit row is written and before the exception propagates."""
        self.spark = spark
        self.store = store
        self.on_failure = on_failure
        self.threads = threads
        self.models: dict[str, Model] = {}
        self._lock = threading.Lock()

    def register(self, model: Model) -> Model:
        if model.name in self.models:
            raise ValueError(f"duplicate model {model.name!r}")
        self.models[model.name] = model
        return model

    # -- resolution ---------------------------------------------------------

    def ref(self, name: str) -> DataFrame:
        """Read a dependency's materialized output (table/parquet) or view."""
        m = self.models.get(name)
        if m and m.materialization == "view":
            return self.spark.table(name)
        return self.store.read(name)

    # -- execution ----------------------------------------------------------

    def _toposort(self, selected: set[str]) -> list[list[str]]:
        """Kahn's algorithm returning *levels* (independent groups run
        concurrently)."""
        pending = {n: {d for d in self.models[n].deps if d in selected} for n in selected}
        levels: list[list[str]] = []
        while pending:
            ready = sorted(n for n, ds in pending.items() if not ds)
            if not ready:
                raise ValueError(f"dependency cycle among {sorted(pending)}")
            levels.append(ready)
            for n in ready:
                del pending[n]
            for ds in pending.values():
                ds.difference_update(ready)
        return levels

    def _audit(
        self,
        buffer: list[Row],
        model: str,
        run_id: str,
        status: str,
        started: dt.datetime,
        rows: int,
    ) -> None:
        """Buffer the model's audit row for the run's one commit; a FAILED
        row is committed at once."""
        row = Row(
            job_name=model,
            run_id=run_id,
            status=status,
            started_at=started,
            finished_at=dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            rows_processed=rows,
        )
        with self._lock:
            buffer.append(row)
        if status == "FAILED":
            self._flush_audit(buffer)

    def _flush_audit(self, buffer: list[Row]) -> None:
        with self._lock:
            rows = buffer[:]
            buffer.clear()
            if rows:
                self.store.append(AUDIT_TABLE, self.spark.createDataFrame(rows))

    def _write_counted(self, name: str, df: DataFrame) -> int:
        """Atomic overwrite + audit row count in ONE job: an Observation
        accumulates count(*) while the parquet write runs, replacing the
        read-back-and-count second scan (2× the write-path I/O at scale)."""
        obs = Observation()
        self.store.overwrite(name, df.observe(obs, F.count(F.lit(1)).alias("rows")))
        return obs.get["rows"]

    def _materialize(self, m: Model, df: DataFrame) -> int:
        if m.materialization == "view":
            df.createOrReplaceTempView(m.name)
            return df.count()
        if m.materialization == "table" or not self.store.exists(m.name):
            return self._write_counted(m.name, df)
        if m.materialization == "incremental":
            target = self.store.read(m.name)
            source = df
            if m.watermark_col:
                wm = target.agg(F.max(m.watermark_col)).first()[0]
                if wm is not None:
                    source = source.filter(F.col(m.watermark_col) > F.lit(wm))
            if m.dedup_order:
                source = dedup_latest(
                    source, [m.unique_key], [F.desc(c) for c in m.dedup_order]
                )
            # dbt merge semantics: matched rows take every source column.
            update_set = {
                c: F.col(f"s.{c}")
                for c in target.columns
                if c in source.columns and c != m.unique_key
            }
            merged = merge_upsert(
                target,
                source,
                keys=[m.unique_key],
                update_set=update_set,
                strict=not m.dedup_order,
            )
            return self._write_counted(m.name, merged)
        if m.materialization == "snapshot":
            history = self.store.read(m.name)
            updated = scd2_apply(
                history,
                df,
                key=m.unique_key,
                tracked_cols=list(m.tracked_cols),
                effective_ts=F.current_timestamp(),
            )
            return self._write_counted(m.name, updated)
        raise ValueError(f"unknown materialization {m.materialization!r}")

    def _snapshot_bootstrap(self, m: Model, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("valid_from", F.current_timestamp())
            .withColumn("valid_to", F.lit(None).cast("timestamp"))
            .withColumn("is_current", F.lit(True))
        )

    def _check_and_materialize(self, m: Model, df: DataFrame) -> int:
        if m.checks is not None:
            failed = [r for r in m.checks(df) if not r.passed]
            if failed:
                raise DataQualityError(m.name, failed)
        if m.materialization == "snapshot" and not self.store.exists(m.name):
            df = self._snapshot_bootstrap(m, df)
        return self._materialize(m, df)

    def _run_one(self, name: str, run_id: str, audit: list[Row]) -> None:
        m = self.models[name]
        started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        try:
            df = m.fn(self.spark, self.ref)
            if m.checks is None or m.materialization == "view":
                # a view must keep its lineage: freeing a checkpoint under
                # it would break every later read of the view
                rows = self._check_and_materialize(m, df)
            else:
                rows = checkpointed_write(
                    df, lambda ck: self._check_and_materialize(m, ck)
                )
            self._audit(audit, name, run_id, "SUCCESS", started, rows)
        except Exception as exc:
            self._audit(audit, name, run_id, "FAILED", started, -1)
            if self.on_failure is not None:
                try:
                    self.on_failure(name, run_id, exc)
                except Exception:
                    pass  # alerting must never mask the real failure
            raise

    def run(self, select: Sequence[str] | None = None) -> str:
        """Run selected models (default all) in dependency order; returns
        the run id. Models within a level run concurrently."""
        selected = set(select) if select else set(self.models)
        for n in selected:
            if n not in self.models:
                raise KeyError(f"unknown model {n!r}")
        run_id = uuid.uuid4().hex[:12]
        audit: list[Row] = []
        try:
            for level in self._toposort(selected):
                if len(level) == 1:
                    self._run_one(level[0], run_id, audit)
                else:
                    with ThreadPoolExecutor(max_workers=self.threads) as pool:
                        futures = [
                            pool.submit(self._run_one, n, run_id, audit)
                            for n in level
                        ]
                        for f in futures:
                            f.result()
        finally:
            self._flush_audit(audit)
        return run_id

    def audit_log(self) -> DataFrame:
        return self.store.read(AUDIT_TABLE)
