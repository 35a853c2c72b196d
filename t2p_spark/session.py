"""Session-scoped stages: the one way a derived relation is built and cached.

A stage is a relation several queries read — the registered views, the
token projection, MinHash signatures, LSH pairs, CC labels, ANN vectors,
the stream replay chunks, the staged input corpora. Its cached value
stands in for the stage table a cluster run writes once; rebuilding it
inside each query would measure setup, not the operator, so the build cost
lands in the first query that needs it.

Stages are keyed per SparkSession *lifetime*. ``id(spark)`` is not that:
CPython reuses addresses after GC, so a new session could inherit a dead
session's stages. The stable key is the context's applicationId plus the
JVM session UUID (distinguishes sessions sharing one context, e.g.
``newSession()``, which do not share temp views).
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

# (session_key, name) -> (match, value, build count); match is the (key,
# input build counts) the value was built for, None once dropped
_STAGES: dict = {}


def session_key(spark: SparkSession) -> str:
    try:
        uuid = spark._jsparkSession.sessionUUID()
    except Exception:  # non-JVM backends (connect) — fall back, still unique
        uuid = str(id(spark))
    return f"{spark.sparkContext.applicationId}/{uuid}"


def stage(spark: SparkSession, name: str, build: Callable[[], Any],
          inputs: Sequence[str] = (), key: Any = ()) -> Any:
    """This session's ``name`` stage, rebuilt only when stale.

    The stored value is returned while ``key`` and the build counts of the
    ``inputs`` stages equal those it was built for. Otherwise the old value
    is dropped and ``build()`` (which does its own ``.cache()``) runs; the
    stage's build count rises, which invalidates every stage naming it as
    an input. So a swapped corpus or a changed preset can never serve a
    stale relation. One entry is kept per name: an A -> B -> A swap
    rebuilds. Callers re-point the temp views a stage owns on every call.
    """
    skey = (session_key(spark), name)
    match = (key, tuple(generation(spark, i) for i in inputs))
    old, value, count = _STAGES.get(skey, (None, None, 0))
    if old == match:
        return value
    drop(spark, name)  # a failed build must not leave the old match behind
    value = build()
    _STAGES[skey] = (match, value, count + 1)
    return value


def generation(spark: SparkSession, name: str) -> int:
    """How many times this session has built ``name`` (0 if never)."""
    return _STAGES.get((session_key(spark), name), (None, None, 0))[2]


def drop(spark: SparkSession, name: str) -> None:
    """Unpersist ``name``'s DataFrames; its next ``stage`` call rebuilds."""
    skey = (session_key(spark), name)
    _old, value, count = _STAGES.get(skey, (None, None, 0))
    for v in value if isinstance(value, (list, tuple)) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist()
    _STAGES[skey] = (None, None, count)
