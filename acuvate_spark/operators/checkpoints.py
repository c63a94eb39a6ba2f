"""One lifetime rule for eager ``localCheckpoint``s: the code that makes
an eager checkpoint releases it after its last reader has run. A lazy
result keeps the checkpoints it reads.

The iterative operators (min-label connected components, greedy
k-center, the fixed-round BFS and label propagation, the dedup
candidate chains) cut lineage with ``localCheckpoint`` — without it
Catalyst planning cost doubles per iteration. But a DataFrame
``localCheckpoint`` has no public release API: the blocks of a
superseded round stay pinned in the block manager until the Python
wrapper happens to be garbage-collected and the async ContextCleaner
gets around to them. One 25-round connected-components run left 24
dead label snapshots persisted, and a following query in the same
session ran 3.5x slower until an explicit ``gc.collect()``.

:func:`release` frees a checkpoint through its own frame: the frame
``localCheckpoint`` returns has a ``LogicalRDD`` as its logical plan,
and that node's RDD is the persisted checkpoint RDD itself. So each
caller frees exactly what it made, and a checkpoint some other caller
takes in the meantime is never touched. Release a round only after the
frame that replaces it has materialized, and keep the handle that
``localCheckpoint`` returned: ``release`` on a projection of a
checkpoint (for example ``new_labels.drop("changed")``) frees nothing,
because its plan is a ``Project`` over the ``LogicalRDD``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release(*frames: DataFrame) -> None:
    """``unpersist()`` each frame and, when it is a checkpoint, free the
    checkpoint's blocks now. A frame that is neither persisted nor a
    checkpoint frees nothing. Submits no Spark job."""
    for df in frames:
        df.unpersist()
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
