"""Continuous BM25 index maintenance — keep the persisted inverted
index (operators/retrieval.py) up to date as documents stream in,
instead of rebuilding it per refresh.

Same shape as streaming/rollup.maintain_rollup and the ivf_pq_append
ingest path: ``foreachBatch`` routes each micro-batch of NEW documents
into ``bm25_index_append``, whose one-commit-per-batch log makes the
whole thing exactly-once — the streaming micro-batch id is the
append's idempotency ref (a Delta ``txn`` in the index log), so an
at-least-once replay of a completed batch is a no-op and a torn batch,
never committed, is simply written again. The first batch builds the
index.

100 TB shape: per-batch work is O(batch) — history postings are never
re-read, never rewritten; a search scans one file per query bucket
per batch (compact with ``bm25_index_compact`` as batches pile up)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.retrieval import bm25_index_append, committed_batches, write_bm25_index


def maintain_bm25_index(
    docs_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """Start (availableNow) the incremental index-maintenance query.
    Returns the StreamingQuery; callers await it. Micro-batches must
    carry NEW document ids (pair with streaming/dedup for at-source
    dedup)."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not committed_batches(spark, path):
            # ref = the stream batch id, so a replay of the BUILD batch
            # after it committed resolves to a no-op in the append path
            write_bm25_index(
                batch_df, path, text_col, id_col, n_buckets,
                batch_ref=f"stream-{batch_id}",
            )
        else:
            bm25_index_append(
                batch_df, path, text_col, id_col, batch_ref=f"stream-{batch_id}"
            )

    return (
        docs_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def maintain_ivf_pq_index(
    vec_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 8,
):
    """Continuous IVF-PQ maintenance — the vector-side twin of
    maintain_bm25_index: each micro-batch of NEW vectors appends one
    committed code batch (operators/quantize.ivf_pq_append), the first
    batch builds the index and trains the quantizers. The stream batch
    id is the idempotency ref, so at-least-once replays are no-ops on
    both legs. Quantizers are FROZEN after the first batch — the
    streaming-ingest trade documented on ivf_pq_append: monitor recall
    and rebuild when the embedding distribution drifts."""
    from ..operators.quantize import committed_batches, ivf_pq_append, ivf_pq_build

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if not committed_batches(spark, path):
            ivf_pq_build(
                batch_df, path, n_centroids=n_centroids, m=m,
                id_col=id_col, vec_col=vec_col,
                batch_ref=f"stream-{batch_id}",
            )
        else:
            ivf_pq_append(
                spark, path, batch_df, id_col=id_col, vec_col=vec_col,
                batch_ref=f"stream-{batch_id}",
            )

    return (
        vec_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
