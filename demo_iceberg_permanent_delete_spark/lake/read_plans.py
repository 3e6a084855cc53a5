"""Per-session memo of the parquet read plans the lake's file-read
helpers build (``LakeTable._read_data_entries`` / ``_pos_delete_rows``).

Building ``spark.read.schema(…).parquet(*paths)`` is driver work that
grows with the file count: a reader, a schema parse, a file-status
listing and an analyzed plan, a few hundred py4j round trips on a MOR
table. An erasure request reads one data-file set three times — the
DELETE's match scan, the check read's pruned scan and the next
request's match scan — and the files do not change between them.

The memo key names everything the built frame depends on: the schema
DDL, the rename chains, the lineage and positions flags, and each file's
path AND size. Data and delete files are immutable (UUID names, never
rewritten in place), so a key can never name different bytes: a commit
that changes the table changes the file set, and with it the key. A
purge removes only files no live snapshot lists, so no read asks for
them again; their entries just age out. The memo is bounded
(``MAX_PLANS``, least recently used first out) and guarded by one lock;
each SparkSession has its own, held weakly so a stopped session's plans
go with it.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

MAX_PLANS = 64

_LOCK = threading.Lock()
# session → key → JVM Dataset. The JVM handle, not the Python DataFrame:
# a DataFrame holds its session strongly, which would pin the weak key.
_MEMOS: weakref.WeakKeyDictionary[SparkSession, OrderedDict] = (
    weakref.WeakKeyDictionary()
)


def memo_read(
    spark: SparkSession, key: Hashable, build: Callable[[], DataFrame]
) -> DataFrame:
    """The memoized frame for ``key`` in ``spark``'s memo, built by
    ``build()`` on a miss. Two threads missing the same key both build;
    the plans are equivalent, and the later one stays."""
    with _LOCK:
        plans = _MEMOS.setdefault(spark, OrderedDict())
        jdf = plans.get(key)
        if jdf is not None:
            plans.move_to_end(key)
    if jdf is not None:
        return DataFrame(jdf, spark)
    df = build()
    with _LOCK:
        plans[key] = df._jdf
        plans.move_to_end(key)
        while len(plans) > MAX_PLANS:
            plans.popitem(last=False)
    return df
