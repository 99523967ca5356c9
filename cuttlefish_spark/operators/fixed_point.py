"""iterate_fixed_point — the driver loop shared by the fixed-point
full-batch trainers (quality_classifier_ngram, lang_id_learned,
embedding_pca_power).

A trainer is four things:

- a long-form int64 table (row_id, label, feature, cnt): one row per
  (entity, feature) pair — a document's hashed bucket and its count, or
  a vector's dimension and its quantized value — with the entity's label
  repeated on each of its rows;
- a model: an int64 NumPy array held on the driver (O(features));
- `partial(model, doc, label, feature, cnt)`: an int64 NumPy kernel over
  ONE partition's rows, returning that partition's contribution to the
  step's cross-entity reduction, shaped like the model. `doc` maps each
  row to a dense per-partition entity index, `label` is per entity;
- `update(t, model, total)`: the driver-side step that turns the summed
  reduction into the next model (the floored division lives here).

The update runs on the EXACT sum over all partitions, never per
partition: floor(a / m) + floor(b / m) != floor((a + b) / m), so a
model floored per partition would depend on the partition count. The
sum itself is int64 and order-independent, and NumPy int64 wraps on
overflow exactly as Spark's non-ANSI `long` arithmetic does, so the
model is bit-identical to the SQL formulation under any partitioning.

Cost: the table is checkpointed once, hash-partitioned by row_id so
every row of an entity lands in one partition (the per-entity
nonlinearity — hard sigmoid, projection shift — is then partition
local). Each step is ONE single-stage job: a `mapInArrow` over the
checkpoint that yields at most one partial per partition, collected to
the driver. The SQL formulation it replaces paid a model
`createDataFrame`, a broadcast join, two aggregates and their exchanges
per step — about 6.5 jobs. The checkpoint exists only for training and
is released when the loop ends.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuttlefish_spark.io import release

_COLS = ("row_id", "label", "feature", "cnt")

Partial = Callable[..., np.ndarray]
Update = Callable[[int, np.ndarray, np.ndarray], np.ndarray]


def _partition_kernel(partial: Partial, model: np.ndarray):
    """The mapInArrow body for one step: gather the partition's rows,
    densify row_id, run `partial`, emit its flattened result as one
    row (nothing for an empty partition)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cols: dict[str, list] = {c: [] for c in _COLS}
        for b in batches:
            for c in _COLS:
                cols[c].append(b.column(c).to_numpy())
        if sum(map(len, cols["row_id"])) == 0:
            return
        row_id, label, feature, cnt = (np.concatenate(cols[c]) for c in _COLS)
        ids, doc = np.unique(row_id, return_inverse=True)
        per_doc = np.empty(len(ids), np.int64)
        per_doc[doc] = label
        out = partial(model, doc, per_doc, feature, cnt)
        yield pa.RecordBatch.from_arrays(
            [pa.array([out.ravel()], pa.list_(pa.int64()))], ["partial"]
        )

    return run


def iterate_fixed_point(
    table: DataFrame,
    model: np.ndarray,
    n_steps: int,
    partial: Partial,
    update: Update,
) -> np.ndarray:
    """Run `n_steps` full-batch steps of a fixed-point trainer (see the
    module docstring) and return the final int64 model."""
    part = (
        table.select(*[F.col(c).cast("long").alias(c) for c in _COLS])
        .repartition("row_id")
        .localCheckpoint(eager=True)
    )
    try:
        for t in range(n_steps):
            rows = part.mapInArrow(
                _partition_kernel(partial, model), "partial array<bigint>"
            ).collect()
            total = np.zeros(model.size, np.int64)
            for r in rows:
                total += np.asarray(r[0], np.int64)  # int64: wraps like Spark
            model = update(t, model, total.reshape(model.shape))
    finally:
        release(part)
    return model
