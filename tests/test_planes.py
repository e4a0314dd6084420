"""The trajectory planes (``operators/planes.py``): the order every
ordered assembly sorts on, and the coordinate expressions the oracles
write.

No fixture has two events of one user at the same ts, so the event_id
tie-break of the (ts, event_id) order is exercised here on a small
events table of its own: equal-ts rows written in reverse event_id
order and split over two files.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from traj_sim_spark_spark import tables
from traj_sim_spark_spark.operators.planes import arrays

_T0 = "(SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) FROM events)"
_DAYS = f"(epoch_us(CAST(ts AS TIMESTAMP)) - {_T0})"
_MICRO = "CAST(ROUND(value * 1e6) AS BIGINT)"
# each plane's coordinates as the DuckDB oracles compute them
_ORACLE_COORDS = {
    "value": {"a": "value"},
    "value_micro": {"a": _MICRO},
    "xy": {"xs": f"{_DAYS} / 86400000000.0", "ys": "value"},
    "xy_micro": {
        "xs": f"CAST(ROUND({_DAYS} / 86400000000.0 * 1e6) AS BIGINT)",
        "ys": _MICRO,
    },
    "seg_micro": {"xs": f"{_DAYS} // 86400", "ys": _MICRO},
}


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory) -> str:
    """An events table of 4 users whose events share timestamps in
    groups of up to 3, each group written in descending event_id order,
    with alternate rows in two files."""
    rng = np.random.default_rng(17)
    rows = []
    eid = 0
    for user in range(1, 5):
        # microsecond timestamps over ~40 days, 6-9 distinct instants
        instants = np.sort(rng.integers(0, 40 * 86_400 * 10**6, 8))
        for t in instants:
            group = []
            for _ in range(int(rng.integers(1, 4))):
                group.append((eid, t, user, round(rng.uniform(-20, 120), 4)))
                eid += 1
            rows += group[::-1]
    df = pd.DataFrame(rows, columns=["event_id", "us", "user_id", "value"])
    base = pd.Timestamp("2024-03-01 00:00:00.123456")
    df["ts"] = base + pd.to_timedelta(df.pop("us"), unit="us")
    df["event_type"] = "view"
    df["props"] = "{}"
    df = df[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    root = tmp_path_factory.mktemp("ties")
    path = root / "events.parquet"
    path.mkdir()
    for i in (1, 0):
        part = pa.Table.from_pandas(
            df.iloc[i::2], schema=schema, preserve_index=False
        )
        pq.write_table(part, str(path / f"part-{i}.parquet"))
    return str(root)


def _reference_order(sf_dir: str) -> dict[int, list[int]]:
    """Per user, the event_ids in (ts, event_id) order, by numpy."""
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    ts = ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    eids, users = ev["event_id"].to_numpy(), ev["user_id"].to_numpy()
    order = np.lexsort((eids, ts, users))
    out: dict[int, list[int]] = {}
    for i in order:
        out.setdefault(int(users[i]), []).append(int(eids[i]))
    return out


def _oracle_coords(sf_dir: str, plane: str) -> dict[int, tuple]:
    """Per event_id, the plane's coordinates computed by DuckDB with the
    oracles' expressions over the same files."""
    con = duckdb.connect()
    glob = os.path.join(sf_dir, "events.parquet", "*.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')")
    exprs = ", ".join(_ORACLE_COORDS[plane].values())
    rows = con.execute(f"SELECT event_id, {exprs} FROM events").fetchall()
    return {r[0]: r[1:] for r in rows}


def _exact(v) -> tuple:
    """A coordinate as its exact bits: int64 as is, a double by hex."""
    if isinstance(v, float):
        return ("f", v.hex())
    return ("i", int(v))


@pytest.mark.parametrize("plane", list(_ORACLE_COORDS))
def test_arrays_follow_ts_event_id_and_oracle_coords(spark, tie_dir, plane):
    """``arrays(ordered=True)`` lists each user's points in (ts,
    event_id) order, ties on ts broken by event_id, with coordinates
    bit-equal to the oracles' expressions; ``ordered=False`` holds the
    same points as a multiset."""
    ev = tables.load(spark, tie_dir, "events")
    order = _reference_order(tie_dir)
    coords = _oracle_coords(tie_dir, plane)
    names = list(_ORACLE_COORDS[plane])
    want = {
        u: [tuple(_exact(c) for c in coords[e]) for e in eids]
        for u, eids in order.items()
    }

    def got(ordered: bool) -> dict[int, list[tuple]]:
        df = arrays(ev, plane, ordered=ordered)
        assert df.columns == ["user_id", *names]
        return {
            r["user_id"]: [
                tuple(_exact(c) for c in pt)
                for pt in zip(*(r[n] for n in names))
            ]
            for r in df.collect()
        }

    assert got(True) == want
    assert {u: sorted(p) for u, p in got(False).items()} == {
        u: sorted(p) for u, p in want.items()
    }


def test_tie_fixture_has_reversed_ties(tie_dir):
    """The table holds equal-ts events of one user read in an order
    other than ascending event_id, so only the tie-break orders them."""
    ev = pq.read_table(os.path.join(tie_dir, "events.parquet")).to_pandas()
    ties = ev[ev.duplicated(["user_id", "ts"], keep=False)]
    groups = ties.groupby(["user_id", "ts"], sort=False)["event_id"]
    assert any(list(g) != sorted(g) for _, g in groups)
