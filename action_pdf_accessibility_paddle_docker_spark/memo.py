"""The driver-side plan memo, one per SparkSession.

Plan building costs driver time that does not depend on the data: a
``spark.read.parquet`` lists files and reads footers, a ``.rdd`` probe
converts the plan, a large Column fragment is hundreds of py4j calls.
``memo`` keeps such results on the session object, so they share its
lifetime: a new session (also one on a relaunched JVM) starts empty, and a
dropped session is not kept alive. A session keeps at most ``MAX_ENTRIES``
entries and evicts the least recently used one; an eviction only costs a
rebuild. Values are lazy plan handles, never query results. Two threads
building in one session at worst build an entry twice.
"""

from collections import OrderedDict

#: entries per session; past it the least recently used entry is evicted
MAX_ENTRIES = 256

_ATTR = "_plan_memo"


def memo(spark, key, build):
    """The value memoized under ``key`` on ``spark``; on a miss ``build()``
    supplies it. A key starts with the function that owns the entry, so two
    call sites never share one."""
    entries = vars(spark).setdefault(_ATTR, OrderedDict())
    try:
        entries.move_to_end(key)
        return entries[key]
    except KeyError:
        value = entries[key] = build()
        if len(entries) > MAX_ENTRIES:
            entries.popitem(last=False)
        return value
