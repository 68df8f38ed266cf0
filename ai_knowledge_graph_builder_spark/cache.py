"""Release handles for the relations an operator caches for its own use.

An operator whose lazy result reads an intermediate relation more than once
persists it and attaches it to the result with ``hold``. The caller
materializes the result, then calls ``release(result)``; without that, every
call leaves its caches behind and a long-lived session (streaming epochs,
repeated pipeline builds) grows without bound. The handles ride on the DIRECT
return value only: keep a reference to it, or pass them on with
``hold(derived, original)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def hold(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach each of ``cached`` that is persisted, and every handle it
    already holds, to ``result``. Returns ``result``."""
    handles = list(getattr(result, "_kg_persisted", []))
    for df in cached:
        for h in (df, *getattr(df, "_kg_persisted", [])):
            if h.is_cached and all(h is not k for k in handles):
                handles.append(h)
    result._kg_persisted = handles
    return result


def release(result: DataFrame) -> None:
    """Unpersist every relation ``result`` holds (see ``hold``)."""
    for handle in getattr(result, "_kg_persisted", []):
        handle.unpersist()
