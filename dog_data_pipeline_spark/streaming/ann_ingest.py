"""Streaming vector ingest into a persisted IVF ANN index.

The composition a training-data pipeline actually runs: embeddings
arrive continuously (new documents embedded by an upstream job) and
must become searchable without rebuilding the serving index — the
streaming twin of ``operators/similarity.ivf_append``, the same way
``streaming/dedup_incremental.py`` is the streaming twin of the batch
MinHash index. Reference provenance: the reference's append-only
ingestion convention (``preprocessed_to_raw.py:48-52`` catalog appends)
lifted to a continuously-ingesting ANN index.

Design:

- ``foreachBatch`` + ``ivf_append(batch_id=...)``: each micro-batch is
  assigned against the FROZEN sidecar centroids and appended into the
  cell directories under the exclusive appender lock. All the batch
  machinery is reused — per-cell salted writes, PQ residual encoding
  when the index carries codes, cumulative-count drift guard.
- EFFECTIVELY-ONCE: Structured Streaming replays a failed micro-batch
  with the SAME monotonically increasing batch id. ``ivf_append``
  records the last applied id in the sidecar inside the same
  lock-guarded read-modify-write as the cell counts, so a replayed id
  is skipped without touching the index. Batch ids are scoped to one
  checkpoint, so the sink also passes its CHECKPOINT LOCATION as the
  stream identity (advisor r9): a new or relocated checkpoint restarts
  ids at 0, and without the identity those early batches would be
  silently dropped as "replays" — with it they apply and take over
  the guard. Skipped replays are never silent either: each one is
  logged at WARNING and handed to ``on_skipped_replay`` when given,
  so a misconfigured stream (two checkpoints alternating on one
  index) is visible instead of quietly losing batches. (The narrow
  crash window — parquet committed, sidecar not — re-appends rows on
  replay; query results stay exact because the query path
  de-duplicates (query, id) pairs, and ``ivf_verify`` flags the
  divergence. See the ``ivf_append`` docstring.)
- The drift guard still runs per batch: when cumulative skew crosses
  ``skew_bound`` the sink calls ``on_rebuild_recommended`` (if given)
  with the append stats — a scheduler hook; ingest itself continues,
  since appends remain CORRECT under skew (it costs probe time, not
  results).

At 100 TB this is the right shape: per-batch cost is
O(batch x n_lists) assignment + at most one file per touched cell per
batch (bounded, compactable by ``ivf_compact``), the corpus is never
re-read, and the lock serializes writers while readers stay lock-free.
"""

from __future__ import annotations

import logging
import os
from typing import Callable

from pyspark.sql import DataFrame

from dog_data_pipeline_spark.operators.similarity import ivf_append, ivf_upsert

logger = logging.getLogger(__name__)


def _checkpoint_identity(checkpoint_dir: str) -> str:
    """The stream identity recorded beside the replay watermark.

    URI checkpoint locations (``s3://…``, ``hdfs://…``, ``file:/…``)
    are used VERBATIM: ``os.path.abspath`` would cwd-join them into a
    string that changes across driver restarts (reviewer r10 —
    cluster-mode drivers get a fresh scratch cwd per attempt, so a
    replayed micro-batch after failover would present a NEW identity
    and be applied instead of skipped). Only scheme-less local paths
    are abspath-normalized, so relative and absolute spellings of the
    same directory still agree.

    MIGRATION (one-time, URI checkpoints only): an index fed under the
    pre-fix code recorded the cwd-joined form; after upgrading, the
    first append presents the verbatim URI, which the guard treats as
    a new stream — a failover replay straddling the upgrade would
    apply one duplicate batch and take over the guard (ivf_append
    logs a takeover warning naming both identities). To upgrade
    losslessly, clear ``last_stream_batch``/``last_stream_id`` in the
    sidecar while the stream is stopped; otherwise accept the one
    flagged duplicate."""
    from urllib.parse import urlparse

    if urlparse(checkpoint_dir).scheme:
        return checkpoint_dir
    return os.path.abspath(checkpoint_dir)


def stream_ivf_ingest(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    skew_bound: float = 4.0,
    lock_timeout_s: float = 600.0,
    available_now: bool = True,
    on_rebuild_recommended: Callable[[dict], None] | None = None,
    on_skipped_replay: Callable[[dict], None] | None = None,
    upsert: bool = False,
    on_fold_recommended: Callable[[dict], None] | None = None,
):
    """Start a streaming query that appends every micro-batch of
    (id, vector) rows to the persisted IVF index at ``path``.

    ``stream_df`` must carry the index's ``id_col`` and ``vec_col``
    (from the sidecar). Returns the started StreamingQuery; with
    ``available_now=True`` (the default) the query drains whatever the
    source currently holds and terminates — the incremental-batch
    deployment mode, re-run per arrival wave with the same checkpoint,
    which is also what the certificate's kill-and-resume replays.

    ``upsert=True`` (r12) is the RE-EMBEDDING pipeline mode: each
    micro-batch goes through ``ivf_upsert`` instead of ``ivf_append``,
    so ids already in the index serve ONLY their newest vector
    (latest-wins via merge-on-read tombstones) while new ids insert
    plainly — the continuous ingestion shape for a corpus whose
    embedding model or documents change under it. Requires the index
    built with ``enable_upsert=True``. The same replay guard covers
    the WHOLE upsert (tombstone + append): a replayed micro-batch is
    skipped before it can tombstone the rows its first application
    installed, and ``ivf_upsert`` holds the appender lock across both
    halves, so a crash mid-batch replays as delete-again + append and
    converges. ``on_fold_recommended`` fires when accumulated
    tombstones pass the fold bound — schedule
    ``ivf_compact(fold_all=True)`` there (upsert-heavy streams
    accumulate one tombstone per re-embedded id per wave)."""

    stream_identity = _checkpoint_identity(checkpoint_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        # persisted so the emptiness probe and the append (an upsert reads
        # the batch twice more) share one read of the source
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return
            op = ivf_upsert if upsert else ivf_append
            stats = op(
                batch,
                path,
                skew_bound=skew_bound,
                lock_timeout_s=lock_timeout_s,
                batch_id=batch_id,
                stream_id=stream_identity,
            )
        finally:
            batch.unpersist()
        if stats.get("skipped_replay"):
            logger.warning(
                "stream_ivf_ingest: batch %s skipped as replay "
                "(index %s, checkpoint %s, sidecar high-water %s)",
                batch_id,
                path,
                stream_identity,
                stats.get("last_stream_batch"),
            )
            if on_skipped_replay is not None:
                on_skipped_replay(stats)
        if stats.get("rebuild_recommended") and on_rebuild_recommended is not None:
            on_rebuild_recommended(stats)
        if stats.get("fold_recommended") and on_fold_recommended is not None:
            on_fold_recommended(stats)

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
