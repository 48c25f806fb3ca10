"""``mapInPandas`` that fuses onto an upstream ``mapInPandas``.

``map_in_pandas(df, fn, schema)`` is ``df.mapInPandas(fn, schema)``,
except when ``df`` is itself the output of an earlier
``map_in_pandas`` call and is not cached: then ``fn`` is composed with
that call's function over that call's input, so both run in one Python
task and the rows between them never cross the Arrow boundary. A
cached frame is read from its cache rather than recomputed.
"""

from __future__ import annotations

import weakref
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

BatchFn = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]

# output frame -> (its input frame, the batch function between them);
# weak keys, so an entry lives exactly as long as its output frame
_SOURCES: weakref.WeakKeyDictionary[DataFrame, tuple[DataFrame, BatchFn]] = (
    weakref.WeakKeyDictionary()
)


def fuses(df: DataFrame) -> bool:
    """Whether ``map_in_pandas(df, ...)`` runs inside ``df``'s own map.
    Asks the cache manager, so a plan cached through another frame
    object counts as cached too."""
    return df in _SOURCES and df.storageLevel == StorageLevel.NONE


def map_in_pandas(df: DataFrame, fn: BatchFn, schema) -> DataFrame:
    if fuses(df):
        df, inner = _SOURCES[df]
        fn = _compose(inner, fn)
    out = df.mapInPandas(fn, schema)
    _SOURCES[out] = (df, fn)
    return out


def _compose(inner: BatchFn, outer: BatchFn) -> BatchFn:
    def fused(batches):
        return outer(inner(batches))

    fused.__name__ = f"{inner.__name__}_then_{outer.__name__}"  # names the plan node
    return fused
