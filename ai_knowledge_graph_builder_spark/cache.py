"""Release handles for the relations an operator caches for its own use.

An operator whose lazy result reads an intermediate relation more than once
persists (or ``local_checkpoint``s) it and attaches it to the result with
``hold``. The caller
materializes the result, then calls ``release(result)``; without that, every
call leaves its caches behind and a long-lived session (streaming epochs,
repeated pipeline builds) grows without bound. The handles ride on the DIRECT
return value only: keep a reference to it, or pass them on with
``hold(derived, original)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def hold(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach each of ``cached`` that is persisted or a ``local_checkpoint``,
    and every handle it already holds, to ``result``. Returns ``result``."""
    handles = list(getattr(result, "_kg_persisted", []))
    for df in cached:
        for h in (df, *getattr(df, "_kg_persisted", [])):
            if (h.is_cached or hasattr(h, "_kg_checkpoint_rdd")) and all(h is not k for k in handles):
                handles.append(h)
    result._kg_persisted = handles
    return result


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df`` with its lineage cut: a lazy local checkpoint, filled by the
    first action that reads it. Its plan is one scan of the checkpointed
    blocks however long ``df``'s was. ``unpersist`` frees the blocks; they
    cannot be recomputed, so do not read it afterwards."""
    out = df.localCheckpoint(eager=False)
    # the RDD that holds the blocks, under the checkpoint's LogicalRDD
    out._kg_checkpoint_rdd = out._jdf.queryExecution().logical().rdd()
    return out


def unpersist(df: DataFrame) -> None:
    """Free ``df``'s cache, or the blocks of a ``local_checkpoint``."""
    rdd = getattr(df, "_kg_checkpoint_rdd", None)
    if rdd is None:
        df.unpersist()
    else:
        rdd.unpersist(False)


def release(result: DataFrame) -> None:
    """Free every relation ``result`` holds (see ``hold``)."""
    for handle in getattr(result, "_kg_persisted", []):
        unpersist(handle)
