"""Streaming ANN ingest: incremental IVF index maintenance.

The batch IVF path (operators/similarity.py ivf_assign/ivf_topk) keys the
corpus by inverted list for partition-pruned search. A continuous embedding
stream keeps that index current by assigning each micro-batch against the
FIXED centroid set and appending to the accumulated (vec -> list) table and
vector store — the same accumulating-table shape as streaming LSH ingest
(streaming/dedup.py). Searches run against the accumulated tables at any
point with the unchanged batch ``ivf_topk``.

Centroids stay fixed between offline (re)trainings: hard assignment against
a stable codebook is what makes every batch's assignment deterministic and
the accumulated table exactly equal to a batch rebuild (the parity test's
claim). Online centroid drift (streaming k-means) would silently shift list
membership of past vectors — re-run the offline trainer and rebuild lists
when the codebook needs to move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from meshinsights_data_pipeline_spark.operators.similarity import ivf_assign
from meshinsights_data_pipeline_spark.streaming.state import state_twin


def streaming_ivf_ingest(
    stream: DataFrame,
    centroids: DataFrame,
    *,
    lists_dir: str,
    vectors_dir: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch builder: per micro-batch, IVF-assign the new vectors
    (broadcast centroid argmax — map-side) and append [id, list_id] to
    ``lists_dir``; with ``vectors_dir`` set, also append the raw vectors
    so searches need only the accumulated tables. Both appends are
    exactly-once per epoch (epoch-keyed dynamic partition overwrite,
    matching the LSH/span ingest twins), so micro-batch retries replace
    rather than duplicate — seed pre-existing tables with
    ``idempotent_epoch_append(df, dir, epoch_id=-1)``.
    Returns a callable for ``stream.writeStream.foreachBatch(...)``.
    """

    def step(batch_df, epoch_id, pin):
        assigned = ivf_assign(batch_df, centroids, id_col, vec_col)
        if vectors_dir is None:
            return [], [assigned]
        return [], [assigned, batch_df.select(id_col, vec_col)]

    outputs = [lists_dir] if vectors_dir is None else [lists_dir, vectors_dir]
    return state_twin(step, [], outputs)


def streaming_pq_ingest(
    stream: DataFrame,
    *,
    codes_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    seed: int = 11,
):
    """foreachBatch builder: PQ-encode each micro-batch of arriving
    vectors against the FIXED deterministic codebooks (the same
    ``similarity.pq_encode`` the batch path uses — map-side, no shuffle)
    and append [id, codes] to the accumulated ``codes_dir`` table. A
    ``similarity.pq_topk``-style ADC search can then run against the
    accumulated codes at any point; because the codebooks are fixed and
    encoding is deterministic, the accumulated table is bit-identical to
    a batch ``pq_encode`` rebuild over the same vectors (the parity the
    test pins). Like IVF centroids, codebooks stay fixed between offline
    retrainings — drifting them online would silently re-interpret past
    codes.

    Appends are exactly-once per epoch (epoch-keyed dynamic partition
    overwrite, like the other ingest twins); seed pre-existing tables
    with ``idempotent_epoch_append(df, dir, epoch_id=-1)``. The
    per-batch encode job runs under the same no-wholestage scope as the
    batch operator (the PQ expression tree overflows whole-stage
    codegen's method limit; per-operator codegen compiles it).
    Returns a callable for ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.similarity import (
        _no_wholestage,
        pq_encode,
    )

    def step(batch_df, epoch_id, pin):
        return [], [pq_encode(batch_df, id_col, vec_col, dim, m, ks, seed)]

    append = state_twin(step, [], [codes_dir])

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        with _no_wholestage(batch_df.sparkSession):
            append(batch_df, epoch_id)

    return _process
