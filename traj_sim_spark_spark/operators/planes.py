"""The trajectory planes: the one coordinate contract of every
trajectory search, pair and segment row.

A trajectory is one user's events in (ts, event_id) order, assembled
once into per-user coordinate arrays that every measure reads [P §4.1].
A plane fixes the coordinates of each point; its expressions are
written here once, as the oracles write them:

- ``value``: the 1-D value;
- ``value_micro``: the value micro-quantized, ROUND(value * 1e6);
- ``xy``: (days since the corpus t0, value), in double;
- ``xy_micro``: both ``xy`` axes micro-quantized;
- ``seg_micro``: the segment rows' integer plane, whole micro-days by
  integer division and the micro-quantized value.

``points`` projects each event onto a plane; ``arrays`` assembles each
user's points into one array per coordinate, in (ts, event_id) order
or as an unordered point set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MICRO_VALUE = "CAST(ROUND(value * 1e6) AS BIGINT)"

#: plane -> its coordinates, each (point column, array column, SQL
#: expression over an event row and the corpus ``t0``).  ``xy`` divides
#: by a double literal; ``xy_micro`` quantizes the DECIMAL quotient of
#: the ``.0`` literal, as its oracles' expression is written.
_PLANES = {
    "value": (("a", "a", "value"),),
    "value_micro": (("a", "a", _MICRO_VALUE),),
    "xy": (
        ("x", "xs", "(unix_micros(ts) - t0) / 86400000000D"),
        ("y", "ys", "value"),
    ),
    "xy_micro": (
        (
            "x",
            "xs",
            "CAST(ROUND((unix_micros(ts) - t0) / 86400000000.0 * 1e6)"
            " AS BIGINT)",
        ),
        ("y", "ys", _MICRO_VALUE),
    ),
    "seg_micro": (
        ("x", "xs", "(unix_micros(ts) - t0) div 86400"),
        ("y", "ys", _MICRO_VALUE),
    ),
}

#: the planes timed from the corpus t0
_TIMED = {"xy", "xy_micro", "seg_micro"}


def corpus_t0(ev: DataFrame) -> DataFrame:
    """One row (t0): the first instant of the events ``ev``, in epoch
    microseconds — the time origin of the timed planes."""
    return ev.agg(F.min(F.unix_micros("ts")).alias("t0"))


def points(
    ev: DataFrame, plane: str, t0: DataFrame | None = None
) -> DataFrame:
    """The events ``ev`` with the ``plane``'s point columns added
    (``a``, or ``x`` and ``y``), timed from the one-row ``t0``
    (default: ``ev``'s own first instant)."""
    coords = [F.expr(e).alias(c) for c, _, e in _PLANES[plane]]
    if plane not in _TIMED:
        return ev.select("*", *coords)
    if t0 is None:
        t0 = corpus_t0(ev)
    return ev.join(F.broadcast(t0)).select(*ev.columns, *coords)


def arrays(
    ev: DataFrame, plane: str, ordered: bool, t0: DataFrame | None = None
) -> DataFrame:
    """Per user of the events ``ev``, one array per coordinate of the
    ``plane`` (``a``, or ``xs`` and ``ys``): ``(user_id, *coords)``.

    Ordered, the arrays follow (ts, event_id): one hash aggregate of
    the in-array sort of the collected (ts, event_id, point) structs,
    so no window is needed.  Unordered, one collect_list per coordinate
    gives the point set, for the order-free measures."""
    cols = _PLANES[plane]
    pts = points(ev, plane, t0).groupBy("user_id")
    if not ordered:
        return pts.agg(*(F.collect_list(c).alias(a) for c, a, _ in cols))
    p = F.struct("ts", "event_id", *(c for c, _, _ in cols))
    return pts.agg(F.array_sort(F.collect_list(p)).alias("p")).select(
        "user_id", *(F.col(f"p.{c}").alias(a) for c, a, _ in cols)
    )
