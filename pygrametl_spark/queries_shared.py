"""Leaf-module home for the helpers shared by the query-registry
modules (queries / queries_data / queries_extra / queries_more /
queries_merged): oracle formatting, the session-side-effect marker and
the one pool that constructs tag-union parts concurrently.

These used to live in ``queries.py``, but that module also imports the
registries from ``queries_extra`` / ``queries_more`` to assemble
``ALL_QUERIES`` — so a registry module importing the helpers back from
``queries`` created an import cycle that only stayed latent as long as
``queries`` happened to be imported first (importing ``queries_more``
standalone raised ``ImportError: partially initialized module``).
Keeping the shared pieces in a module that imports nothing from the
registry family makes every registry module importable in isolation.
``queries.py`` re-exports them, so existing callers are unaffected.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

# One canonical microsecond-precision timestamp rendering on both
# engines: Spark's date_format and DuckDB's strftime disagree on
# default fractional-second width, so every SCD2 oracle compares
# STRINGS produced by these two equivalent patterns.
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _fmt_ts(c) -> F.Column:
    return F.date_format(c, TS_FMT_SPARK)


# The canonical SCD2 dimension replay over the events table, as a DuckDB
# CTE prefix: collapse consecutive same-type events per user, open/close
# validity with lead(), number versions, assign dense ids. Shared by
# every SCD2-family oracle so they all pin the SAME dimension shape.
_SCD2_DUCK_DIM = """
WITH changes AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), kept AS (
  SELECT user_id, event_type, ts, event_id FROM changes
  WHERE prev IS NULL OR prev <> event_type
), v AS (
  SELECT user_id, event_type, ts AS fromdate,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS todate,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
  FROM kept
), dim AS (
  SELECT CAST(row_number() OVER (ORDER BY user_id, version) AS BIGINT) AS id, *
  FROM v
)
"""


def session_side_effect(fn):
    """Mark a part query that changes session state while it is
    constructed, so a tag-union containing it builds its parts one after
    another. Two kinds exist: temp-view registration (view names are
    session-global, so a concurrent sibling could resolve a view while
    it is being replaced) and the drained-stream gates
    (``queries_data._memo_stream_gate``), whose streams scope session
    confs and register memory sinks for their whole drain."""
    fn.session_side_effect = True
    return fn


def build_concurrently(spark, tasks):
    """Run zero-argument part constructions and return their results in
    task order. Independent parts' construction-phase driver actions
    (quantizer trainings, sidecar collects, plan-choosing counts)
    overlap on a thread pool instead of leaving the cluster idle between
    small jobs. The width is one worker per task, capped by Spark's
    default parallelism and by the CPUs this process may run on, so
    ``local[1]`` or a single task runs in order on the calling thread."""
    width = min(
        len(tasks), spark.sparkContext.defaultParallelism, len(os.sched_getaffinity(0))
    )
    if width < 2:
        return [task() for task in tasks]
    with ThreadPoolExecutor(width) as pool:
        return list(pool.map(lambda task: task(), tasks))
