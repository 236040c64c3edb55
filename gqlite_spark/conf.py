"""Session configuration in one place: every ``spark.gqlite.*`` key and
its default, typed reads of Spark's own byte confs, scoped overrides,
and the measured row size the cost switches compare with those confs.

The engine's keys (``spark.gqlite.`` + name, with their defaults):

==========================  ==========================================
``knn.ann_threshold``       100000 — routed ``$near``+limit only above
                            this many rows; -1 forces the exact plan
``knn.nprobe``              lists a routed ``$near`` probes; unset:
                            ``similarity.default_nprobe(nlist)``
``knn.overlay_isin_max``    1000 — overlay rows excluded by an inline
                            literal; above it, a broadcast anti-join
``knn.oversample``          4 — candidate width c·k of the refill route
``knn.oversample_retries``  2 — refill doublings before the exact scan
``knn.pq_candidates``       0 — IVFPQ re-rank width; ≤ 0 picks the
                            measured candidates law
``checkpoint.reliable``     false — reliable checkpoints instead of
                            local ones (operators/ckpt.py)
==========================  ==========================================
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import GQLiteError

PREFIX = "spark.gqlite."

# name -> default; the default's type is the key's type (knn.nprobe is
# an int whose default the caller computes from the index)
KEYS = {
    "knn.ann_threshold": 100000,
    "knn.nprobe": None,
    "knn.overlay_isin_max": 1000,
    "knn.oversample": 4,
    "knn.oversample_retries": 2,
    "knn.pq_candidates": 0,
    "checkpoint.reliable": False,
}

BROADCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
ADVISORY_PARTITION = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def key(name: str) -> str:
    """The full conf key of table entry ``name``."""
    if name not in KEYS:
        raise KeyError(name)
    return PREFIX + name


def get(spark, name: str, default=None):
    """Typed read of ``spark.gqlite.<name>``; unset, the table default
    (or ``default``, for a key whose default is computed).  Values parse
    the way Spark parses its own int and boolean confs — trimmed, and
    booleans case-insensitive ``true``/``false`` — and a malformed value
    raises a :class:`GQLiteError` naming the key."""
    k = key(name)
    raw = spark.conf.get(k, None)
    if raw is None:
        return KEYS[name] if default is None else default
    s = raw.strip()
    if isinstance(KEYS[name], bool):
        if s.lower() in ("true", "false"):
            return s.lower() == "true"
        kind = "a boolean (true or false)"
    else:
        try:
            return int(s)
        except ValueError:
            kind = "an integer"
    raise GQLiteError(f"{k} must be {kind}, got {raw!r}")


def byte_conf(spark, key: str) -> int:
    """A Spark byte conf (``BROADCAST_THRESHOLD``, ``ADVISORY_PARTITION``)
    in bytes, parsed by Spark's own ``JavaUtils.byteStringAsBytes`` with
    Spark's leading-minus rule, so every form Spark accepts at
    ``conf.set`` ('64m', '64MB', '1p', '-1') reads as Spark reads it."""
    raw = spark.conf.get(key).strip()
    sign = -1 if raw.startswith("-") else 1
    parse = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    return sign * parse(raw[1:] if sign < 0 else raw)


@contextmanager
def scoped(spark, overrides: dict):
    """Set ``overrides`` on the session for the ``with`` block; on exit
    restore each prior value, or unset a key that was unset.  Runtime
    conf is read when a query is planned, so only plans built inside
    the block see the override."""
    prior = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def row_bytes(df: DataFrame) -> Column:
    """Aggregate of ``df``'s size in Spark's per-row convention: an 8 B
    header, 8 B per field, plus each string or binary value's
    ``octet_length``.  Meant as a ``materialize_probed`` probe, so the
    size comes from the job that materializes the rows."""
    width = F.lit(8 + 8 * len(df.schema.fields))
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            width = width + F.coalesce(
                F.octet_length(F.col(f"`{f.name}`")), F.lit(0))
    return F.sum(width)
