"""One round of per-partition work against a broadcast payload.

Every distributed trainer in the package — the perceptron CRF head
(``train.py``), the backprop BiLSTM-CRF and its dev-NLL monitor
(``backprop.py``), the order projector (``paraphrase.py``) and the
k-means codebook (``similarity.py``) — iterates the same round, the
iterative parameter mixing of McDonald, Hall & Mann (NAACL 2010):
broadcast the current state, run one local pass per partition, bring
back one small result per partition, combine them on the driver. The
corpus never leaves the executors; each round moves n_partitions
results. :func:`partition_results` is that round, written once.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame


def partition_results(df: DataFrame, payload: Any,
                      local: Callable[[Any, pa.Table], Any]) -> list:
    """→ ``[local(payload, table) for each non-empty partition of df]``.

    ``payload`` is broadcast for this round only and unpersisted when
    the round ends, also when it fails. ``table`` is the partition's
    rows as one ``pyarrow.Table`` whose chunks are the partition's
    non-empty Arrow batches (``table.to_batches()`` walks them), so a
    partition with no rows is never passed to ``local``. Each result is
    pickled into one binary row; the list comes back in partition order.
    """
    bc = df.sparkSession.sparkContext.broadcast(payload)

    def run(batches):
        batches = [rb for rb in batches if rb.num_rows]
        if batches:
            out = local(bc.value, pa.Table.from_batches(batches))
            yield pa.RecordBatch.from_arrays(
                [pa.array([pickle.dumps(out)], pa.binary())],
                names=["result"])

    try:
        rows = df.mapInArrow(run, "result binary").collect()
    finally:
        bc.unpersist(blocking=False)
    return [pickle.loads(r[0]) for r in rows]
