"""Streaming merge-upsert: the Structured-Streaming twin of the
reference's dominant write primitive (MERGE + high-watermark incremental
load, SURVEY §M1/§M4; dags/logistics-airbyte-sql.py:25-49).

The batch pattern re-reads the target's MAX(cursor) and filters the
source per run; streaming replaces that bookkeeping with the source
checkpoint (exactly-once progress tracking) and applies each micro-batch
through the same ``merge_upsert`` engine primitive inside
``foreachBatch`` — the standard lakehouse "CDC stream → merged silver
table" sink. Each micro-batch:

1. window-dedups the batch to latest-per-key (the reference's mandatory
   pre-MERGE guard, §M3 — a batch may carry several versions of a key),
2. merges it into the current target state (matched → update, not
   matched → insert),
3. atomically swaps the target (``TableStore.overwrite``). The merged
   frame reads the target's current version while the overwrite writes
   the next one, and a version is only garbage-collected after its
   successor is committed, so the write needs no lineage-cutting
   checkpoint (one Spark job fewer per micro-batch) — the same guarantee
   the runner's incremental merge relies on.

Scale note: foreachBatch + full-rewrite merge is the Parquet-backed
stand-in for a lakehouse ``MERGE INTO`` — swapping ``_apply_batch`` for
Delta/Iceberg ``merge`` keeps every caller unchanged (same stance as
TableStore). Stream-static dim enrichment rides along: a static
(broadcast) DataFrame can be joined to the stream before the sink with
no extra machinery — Spark re-resolves the static side per micro-batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import dedup_latest, merge_upsert
from ..plans.materialize import TableStore


def stream_merge_upsert(
    source_stream: DataFrame,
    store: TableStore,
    table: str,
    keys: Sequence[str],
    cursor_col: str,
    tiebreak_col: str,
    checkpoint_dir: str,
    enrich_dim: DataFrame | None = None,
    dim_key: str | None = None,
    available_now: bool = True,
    checks=None,
) -> StreamingQuery:
    """Run a streaming query that keeps ``store[table]`` merged up to
    date with ``source_stream``.

    ``cursor_col``/``tiebreak_col`` order duplicate keys within a batch
    (latest wins, deterministically). ``enrich_dim`` (optional) is a
    static dimension broadcast-joined to every micro-batch on
    ``dim_key`` before the merge — the stream-static enrichment join.
    ``available_now=True`` drains everything currently in the source and
    stops (the batch-parity mode the tests use); ``False`` runs
    continuously.

    ``checks`` (optional) is the streaming data-quality circuit breaker:
    a callable over the deduped micro-batch returning
    ``quality.CheckResult`` rows. Any failed check raises inside
    ``foreachBatch``, so the query STOPS with the source offsets
    uncommitted — the target keeps its last good state and a restart
    reprocesses the same batch (fix the data in place, restart, resume).
    Bad data can never advance the checkpoint past itself.
    """
    stream = source_stream
    if enrich_dim is not None:
        if dim_key is None:
            raise ValueError("dim_key is required with enrich_dim")
        stream = stream.join(F.broadcast(enrich_dim), dim_key, "left")

    def _apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        latest = dedup_latest(
            batch_df, keys, [F.desc(cursor_col), F.desc(tiebreak_col)]
        )
        if checks is not None:
            from ..plans.runner import DataQualityError

            failed = [r for r in checks(latest) if not r.passed]
            if failed:
                raise DataQualityError(f"{table} micro-batch {epoch_id}", failed)
        if store.exists(table):
            target = store.read(table)
            # WHEN MATCHED: the fresher source row wins on every non-key
            # column (the airbyte-MERGE update rule).
            update_set = {
                c: F.col(f"s.{c}")
                for c in latest.columns
                if c not in keys and c in target.columns
            }
            merged = merge_upsert(target, latest, list(keys), update_set=update_set)
        else:
            merged = latest
        # no checkpoint: version n is unlinked only after n+1 commits
        store.overwrite(table, merged)

    writer = stream.writeStream.foreachBatch(_apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
