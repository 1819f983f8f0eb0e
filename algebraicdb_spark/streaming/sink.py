"""Exactly-once streaming sink into a transactional table.

Structured Streaming's delivery contract to ``foreachBatch`` is
AT-LEAST-ONCE with a stable ``batch_id``: after a crash between "sink
committed" and "checkpoint advanced", the SAME batch (same id, same
content — the checkpoint pins source offsets per batch) is delivered
again. Exactly-once therefore lives in the sink: the commit must be
idempotent in ``batch_id``. This module wires that contract into
``DeltaTableWriter.append_txn`` — Delta's transaction-identifier
protocol, where a ``txn (appId, version)`` marker rides atomically in
the same commit as the data files, so replayed batches see the marker
and become no-ops. This is precisely how production Delta sinks
achieve exactly-once (``txnAppId``/``txnVersion`` write options), in a
table every other Delta engine can consume.

Scale shape: per micro-batch, ONE distributed parquet write of the
batch (executor-side, never through the driver) + O(commits) KB of
driver-side log metadata for the idempotence probe and publish — the
same metadata a Delta commit reads. State: none beyond the sink table
and the query checkpoint; restarts recover from both independently.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

# Any transactional table exposing the idempotent-append pair
# (append_txn / write_checkpoint) can be a sink target: the
# standard-format ``DeltaTableWriter`` (operators/delta_writer.py), or
# ``IcebergTableWriter`` (operators/iceberg_writer.py) for the keyed
# upsert mode.


def txn_committer(
    table, app_id: str, log_checkpoint_every: int | None = None
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body: commit the micro-batch under its
    engine-assigned batch_id. Factored out so tests can invoke it
    directly with a duplicated batch_id — simulating the redelivery
    window that is hard to trigger deterministically in-process.

    ``log_checkpoint_every`` folds a table-log checkpoint every N
    commits (`DeltaTableWriter.write_checkpoint`) — without it, the
    per-batch idempotence probe (``last_txn_version``) replays the
    WHOLE log, turning a months-long one-batch-per-minute ingest
    quadratic in total commits; with it the probe is O(N tail
    commits). Failure-safe: checkpointing is a pure read accelerator,
    so a crash between commit and checkpoint loses nothing."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        version = table.append_txn(batch_df, app_id, batch_id)
        if (
            log_checkpoint_every
            and version is not None
            and version % log_checkpoint_every == 0
        ):
            table.write_checkpoint()

    return commit


def upsert_committer(
    table, app_id: str, key_cols: list[str]
) -> Callable[[DataFrame, int], None]:
    """The CDC twin of ``txn_committer``: each micro-batch lands as a
    keyed UPSERT (``IcebergTableWriter.upsert_by_key`` — one equality-
    delete file of the batch's keys + the batch, atomic at one
    sequence number, NO probe scan), with the same (app_id, batch_id)
    replay mark riding the snapshot summary so a redelivered batch
    no-ops. This is the Flink→Iceberg CDC ingest shape: exactly-once
    keyed upserts at O(batch) cost per micro-batch regardless of
    table size; OPTIMIZE is the periodic purge lever for the
    accumulated delete strata. The batch must be key-unique (CDC
    readers emit one latest row per key per batch; a duplicate key
    refuses loudly rather than silently double-landing)."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # BOOTSTRAP: upsert_by_key refuses on a table with no current
        # snapshot (there is nothing for an equality delete to order
        # against), so a CDC sink pointed at a freshly created table
        # would otherwise fail its first micro-batch unconditionally.
        # Fall back to an idempotent APPEND carrying the SAME
        # (app_id, batch_id) replay mark — a redelivery of the
        # bootstrap batch after later upserts lands on the upsert
        # path, whose mark check no-ops it; either way exactly-once
        # holds. The batch must still be key-unique (the upsert
        # invariant an append would silently waive).
        cur = None
        probe = getattr(table, "_current", None)
        if probe is not None:
            _v, cur = probe()
        if probe is not None and (
            cur is None or cur.get("current-snapshot-id") in (None, -1)
        ):
            from pyspark.sql import functions as F

            # pin the batch content BEFORE checking it: the append
            # below re-evaluates the plan, and a non-deterministic
            # source could otherwise pass the uniqueness check here
            # yet stage different (duplicate-keyed) rows — the same
            # hazard upsert_by_key avoids by deriving its key file
            # from the staged bytes
            batch_df = batch_df.localCheckpoint()
            row = batch_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(
                    F.struct(*[F.col(c) for c in key_cols])
                ).alias("d"),
            ).collect()[0]
            if int(row["n"]) != int(row["d"]):
                raise ValueError(
                    f"upsert sink bootstrap: "
                    f"{int(row['n']) - int(row['d'])} source row(s) "
                    "share a key within the batch — deduplicate the "
                    "source on the key first"
                )
            table.append_txn(batch_df, app_id, batch_id)
            return
        table.upsert_by_key(
            batch_df.sparkSession, batch_df, key_cols,
            app_id=app_id, txn_version=batch_id,
        )

    return commit


def txnlog_sink(
    stream_df: DataFrame,
    table,  # DeltaTableWriter or IcebergTableWriter (duck-typed, see above)
    app_id: str,
    checkpoint_dir: str,
    timeout: int = 120,
    log_checkpoint_every: int | None = None,
    upsert_keys: list[str] | None = None,
) -> None:
    """Drain everything currently available in ``stream_df`` into
    ``table``, exactly-once, one commit per micro-batch — APPEND by
    default, keyed UPSERT when ``upsert_keys`` is given (the CDC
    ingest mode; the table must expose ``upsert_by_key``). Call again
    (with a freshly built stream and the SAME checkpoint + app_id)
    after new source data lands: source offsets resume from the
    checkpoint, and any batch the checkpoint failed to record but the
    table already committed is deduplicated by its txn marker."""
    committer = (
        upsert_committer(table, app_id, upsert_keys)
        if upsert_keys
        else txn_committer(table, app_id, log_checkpoint_every)
    )
    q = (
        stream_df.writeStream.foreachBatch(committer)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        # a still-running query holds the checkpoint and may be
        # mid-commit — proceeding would race it; fail loudly (the
        # run_to_parquet contract).
        q.stop()
        raise TimeoutError(
            f"txnlog sink for {table.path} still running after {timeout}s"
        )
