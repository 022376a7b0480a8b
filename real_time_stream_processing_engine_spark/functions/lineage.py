"""Lineage cuts with a deployable fault-tolerance posture.

Several operators truncate lineage mid-pipeline (BPE merge rounds,
the self-derived LM token explode, tf-idf's (doc, term, tf) frame,
basket_similarity's bipartite set): without the cut the upstream pass
re-executes per consumer or the fixpoint plan grows quadratically
(optimization guide §3.3/§5).  ``localCheckpoint`` is the cheap local
form — but it is NOT fault-tolerant: the materialized blocks live on
executors, so losing one executor makes the lineage unrecoverable and
fails the job (guide §5; the graph operators already expose a
``checkpoint_dir`` argument for exactly this reason).

:func:`lineage_cut` is the shared policy point.  Default: lazy
``localCheckpoint`` — at the frame sizes involved (bounded vocab
tables, aggregated term frames) a retry-from-scratch on executor loss
is acceptable and the local form is far cheaper.  For the 100 TB
long-job posture set ``SPARK_GRAFT_CHECKPOINT_DIR`` to a reliable
path (HDFS/object store): every cut then becomes a reliable
``checkpoint`` that survives executor loss, the same trade the graph
operators' ``checkpoint_dir`` argument makes.  The knob is read per
call so a long-lived session can opt in without rebuilding frames.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` is set, executor-local
    ``localCheckpoint`` otherwise (both lazy by default — the next
    action over the frame materializes it, so no extra job).

    Two things the reliable form leaves to the caller: its checkpoint
    files under ``$SPARK_GRAFT_CHECKPOINT_DIR`` are never cleaned up
    (Spark removes them only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on, which
    the engine does not set), and each call re-sets the checkpoint dir of
    the SHARED SparkContext, so any later ``checkpoint`` in the same
    session writes there too."""
    ckpt_dir = os.environ.get(_ENV)
    if ckpt_dir:
        # the reliable data dir is captured when checkpoint() runs, so
        # setting it immediately before is deterministic even when a
        # graph operator sets its own checkpoint_dir on the same
        # context (those operators re-set theirs per call too)
        df.sparkSession.sparkContext.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
