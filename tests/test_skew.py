"""Adversarial skew: the bucketed pair-join builders on a HOT-KEY corpus.

The fixtures are benign; these tests feed the registered builders a
synthetic corpus engineered to concentrate one join bucket (one day,
one eps-cell, hundreds of users' points) and assert (a) completion and
(b) exact DuckDB agreement on the same file — evidence that the
bucket-bounds-the-blowup designs stay CORRECT under the skew they were
designed to survive, not just on friendly data.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from traj_sim_spark_spark import registry

registry.load_all()


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    """events.parquet where day 0 holds 150 users all within one
    eps-cell (every pair qualifies — the worst legal bucket), repeated
    over 3 days so the >=3-shared-days comovement gate passes."""
    d = tmp_path_factory.mktemp("skew")
    rows = []
    eid = 0
    for day in range(3):
        for u in range(150):
            for k in range(3):  # several points per user-day
                rows.append(
                    (
                        eid,
                        pd.Timestamp("2024-01-01")
                        + pd.Timedelta(days=day, minutes=u * 3 + k),
                        u,
                        "view",
                        100.0 + (u % 7) * 0.1,  # one 1.0-eps cell
                        "{}",
                    )
                )
                eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf.to_parquet(d / "events.parquet", index=False)
    return str(d)


def _oracle(key: str, skew_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{skew_dir}/events.parquet')"
    )
    return con.execute(registry.ORACLES[key]).fetchdf()


def _norm(pdf):
    cols = sorted(pdf.columns)
    return sorted(
        tuple(str(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


@pytest.mark.parametrize(
    "key",
    [
        "traj_comovement",
        "rel_join_interval_overlap",
        "traj_convoy",
        # round-3: the segment search tier under a 150-user one-cell
        # pile-up — near-identical trajectories make every distance a
        # knife-edge tie; the integer membership + (d2, user) tie order
        # must still match DuckDB exactly
        "traj_hausdorff_segments_threshold_2d",
        "traj_hausdorff_segments_knn_2d",
        "traj_map_match",
    ],
)
def test_bucketed_join_survives_hot_bucket(spark, skew_dir, key):
    got = registry.QUERIES[key](spark, skew_dir).toPandas()
    want = _oracle(key, skew_dir)
    assert len(got) == len(want), (key, len(got), len(want))
    assert _norm(got) == _norm(want), key
    # the hot bucket really was hot: comovement must have found the
    # quadratic pair set (150 users pairwise co-located)
    if key == "traj_comovement":
        assert len(got) == 150 * 149 // 2


@pytest.fixture(scope="module")
def dup_dir(tmp_path_factory):
    """events.parquet where 30 users are EXACT clones of user 1's
    trajectory (same timestamps, same values): the kth kNN distance is
    0.0, so bounds and distances tie at zero and user_id decides."""
    d = tmp_path_factory.mktemp("dup")
    rows = []
    eid = 0
    for u in range(40):
        clone = u <= 30  # users 1..30 clone user 1; 31..39 differ
        for k in range(20):
            rows.append(
                (
                    eid,
                    pd.Timestamp("2024-01-01")
                    + pd.Timedelta(hours=k),
                    u,
                    "view",
                    50.0 + k * 2.0 + (0.0 if clone else u * 7.0),
                    "{}",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf.to_parquet(d / "events.parquet", index=False)
    return str(d)


def test_knn_2d_survives_duplicate_trajectories(spark, dup_dir):
    """tau == 0 (k exact clones of the query) must still give the
    brute-force top-k: the clones fill it at distance 0.0, lowest
    user_id first."""
    import numpy as np

    from traj_sim_spark_spark.functions import kernels
    from traj_sim_spark_spark.operators.planes import points
    from traj_sim_spark_spark.tables import Tables

    by_user: dict[int, list] = {}
    for r in points(Tables(spark, dup_dir).events, "xy").collect():
        by_user.setdefault(r["user_id"], []).append((r["x"], r["y"]))
    arrs = {u: np.asarray(p, dtype=np.float64) for u, p in by_user.items()}
    dist = {
        u: kernels.hausdorff(a, arrs[1]) for u, a in arrs.items() if u != 1
    }
    top = sorted(dist, key=lambda u: (dist[u], u))[:10]
    brute = sorted((u, round(dist[u], 6)) for u in top)
    got = sorted(
        tuple(r)
        for r in registry.QUERIES["traj_hausdorff_knn_2d"](
            spark, dup_dir
        ).collect()
    )
    assert got == brute
    assert all(r[1] == 0.0 for r in got)  # clones fill the top-k


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    """Single-user, 3-event corpus: every per-user statistic hits its
    floor (no pairs, no neighbors, a 1-cell study area, empty seeds)."""
    d = tmp_path_factory.mktemp("degen")
    rows = [
        (
            i,
            pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i),
            1,
            "view",
            100.0 + i,
            "{}",
        )
        for i in range(3)
    ]
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(d / "events.parquet", index=False)
    return str(d)


_EVENTS_FAMILY_PREFIXES = (
    "traj_",
    "rel_ewma",
    "rel_autocorr",
    "rel_anomaly",
    "rel_changepoint",
    "rel_gapfill",
    "rel_retention",
    "rel_funnel",
    "rel_win_pattern",
    "rel_rollup",
    "rel_kanonymity",
    "rel_join_interval",
    "graph_bfs",
    "graph_cc",
    "graph_kcore",
    "graph_tri",
    "graph_common",
    "graph_assort",
    "sketch_quantile",
)


def test_events_family_survives_degenerate_corpus(spark, degenerate_dir):
    """No events-based query may CRASH on the single-user floor corpus
    (empty results are fine; two .head()-derived crashes were found and
    fixed by exactly this sweep — empty kNN seeds, 1-cell Gi* grid)."""
    keys = [
        k
        for k in registry.QUERIES
        if k.startswith(_EVENTS_FAMILY_PREFIXES)
    ]
    assert len(keys) > 60
    failures = []
    for k in keys:
        try:
            registry.QUERIES[k](spark, degenerate_dir).count()
        except Exception as e:  # noqa: BLE001
            failures.append((k, str(e).split("\n")[0][:120]))
    assert not failures, failures


@pytest.fixture(scope="module")
def degenerate_docs_dir(tmp_path_factory):
    """Floor corpus for the text/embedding families: ONE 4-token doc
    (shorter than every shingle width) + two embeddings + 3 events."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("degen_docs")
    pd.DataFrame(
        [(0, "tiny doc text here", "en", "src0", 18)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(d / "documents.parquet", index=False)
    tb = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array(
                [list(np.arange(64) / 64.0), [1.0] * 64],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 1], pa.int32()),
        }
    )
    pq.write_table(tb, d / "embeddings.parquet")
    rows = [
        (
            i,
            pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i),
            1,
            "view",
            100.0 + i,
            "{}",
        )
        for i in range(3)
    ]
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(d / "events.parquet", index=False)
    return str(d)


def test_text_emb_family_survives_degenerate_corpus(
    spark, degenerate_docs_dir
):
    """No text/similarity/multimodal/pipeline query may CRASH on the
    one-short-doc corpus (the sweep found a descending-sequence slice()
    crash in the word-shingle builder for docs shorter than the shingle
    width — now guarded)."""
    keys = [
        k
        for k in registry.QUERIES
        if k.startswith(
            ("text_", "sim_", "emb_", "mm_", "pipe_", "sketch_cms",
             "sketch_kmv")
        )
    ]
    assert len(keys) > 50
    failures = []
    for k in keys:
        try:
            registry.QUERIES[k](spark, degenerate_docs_dir).count()
        except Exception as e:  # noqa: BLE001
            failures.append((k, str(e).split("\n")[0][:120]))
    assert not failures, failures


@pytest.fixture(scope="module")
def degenerate_all_dir(tmp_path_factory):
    """One-row versions of every relational table (µs-encoded
    timestamps like the real fixtures) + the floor events/documents/
    embeddings — the minimal corpus the FULL registry must survive."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("degen_all")
    pd.DataFrame(
        [(0, "AMERICA")], columns=["r_regionkey", "r_name"]
    ).astype({"r_regionkey": "int32"}).to_parquet(
        d / "region.parquet", index=False
    )
    pd.DataFrame(
        [(0, "BRAZIL", 0)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    ).astype({"n_nationkey": "int32", "n_regionkey": "int32"}).to_parquet(
        d / "nation.parquet", index=False
    )
    pd.DataFrame(
        [(1, "c1", 0, 10.0, "BUILDING")],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    ).astype({"c_nationkey": "int32"}).to_parquet(
        d / "customer.parquet", index=False
    )
    pd.DataFrame(
        [(1, "s1", 0, 5.0)],
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    ).astype({"s_nationkey": "int32"}).to_parquet(
        d / "supplier.parquet", index=False
    )
    pd.DataFrame(
        [(1, "p1", "Brand#1", "TYPE A", 5, 100.0)],
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                 "p_retailprice"],
    ).astype({"p_size": "int32"}).to_parquet(
        d / "part.parquet", index=False
    )
    pd.DataFrame(
        [(1, 1, "O", 100.0, pd.Timestamp("2024-01-02"), "1-URGENT")],
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority"],
    ).to_parquet(d / "orders.parquet", index=False,
                 coerce_timestamps="us")
    pd.DataFrame(
        [(1, 1, 1, 1, 2.0, 50.0, 0.05, 0.02, "N", "O",
          pd.Timestamp("2024-01-05"))],
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    ).astype({"l_linenumber": "int32"}).to_parquet(
        d / "lineitem.parquet", index=False, coerce_timestamps="us"
    )
    rows = [
        (
            i,
            pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i),
            1,
            "view",
            100.0 + i,
            '{"k": 1}',
        )
        for i in range(3)
    ]
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value",
                 "props"],
    ).to_parquet(d / "events.parquet", index=False)
    pd.DataFrame(
        [(0, "tiny doc text here", "en", "src0", 18)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(d / "documents.parquet", index=False)
    tb = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array(
                [list(np.arange(64) / 64.0), [1.0] * 64],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 1], pa.int32()),
        }
    )
    pq.write_table(tb, d / "embeddings.parquet")
    return str(d)


def test_remaining_families_survive_degenerate_corpus(
    spark, degenerate_all_dir
):
    """The relational/source/stream/udf families (everything the other
    two sweeps skip) must not CRASH on one-row tables."""
    covered = (
        "traj_", "rel_ewma", "rel_autocorr", "rel_anomaly",
        "rel_changepoint", "rel_gapfill", "rel_retention", "rel_funnel",
        "rel_win_pattern", "rel_rollup", "rel_kanonymity",
        "rel_join_interval", "graph_bfs", "graph_cc", "graph_kcore",
        "graph_tri", "graph_common", "graph_assort", "sketch_quantile",
        "text_", "sim_", "emb_", "mm_", "pipe_", "sketch_cms",
        "sketch_kmv",
    )
    keys = [k for k in registry.QUERIES if not k.startswith(covered)]
    assert len(keys) > 60
    failures = []
    for k in keys:
        try:
            registry.QUERIES[k](spark, degenerate_all_dir).count()
        except Exception as e:  # noqa: BLE001
            failures.append((k, str(e).split("\n")[0][:120]))
    assert not failures, failures


@pytest.fixture(scope="module")
def phash_clone_dir(tmp_path_factory):
    """documents.parquet where 60 of 80 docs are EXACT clones of one
    text — every clone lands in the SAME 8 LSH buckets (the hottest
    possible banding), so the candidate join fans out quadratically in
    the clone set."""
    d = tmp_path_factory.mktemp("phash_clones")
    base = ("spark scan table value row agg join merge sort window "
            "batch stream key hash filter group ") * 4  # ~280 chars
    rows = []
    for i in range(80):
        text = base if i < 60 else (
            " ".join(f"tok{i}w{j}" for j in range(40))
        )
        rows.append((i, text, "en", "web", len(text)))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_phash_nn_survives_clone_hot_buckets(spark, phash_clone_dir):
    got = registry.QUERIES["mm_phash_nn"](spark, phash_clone_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{phash_clone_dir}/documents.parquet')"
    )
    want = con.execute(registry.ORACLES["mm_phash_nn"]).fetchdf()
    assert len(got) == len(want)
    assert _norm(got) == _norm(want)
    # every clone's NN is another clone at Hamming 0, smallest id wins
    clones = got[got.doc_id < 60]
    assert len(clones) == 60
    assert (clones.hamming == 0).all()
    assert (clones[clones.doc_id != 0].nn_doc == 0).all()


@pytest.fixture(scope="module")
def hot_customer_dir(tmp_path_factory):
    """lineitem/orders where 30 customers each buy from ALL 300
    suppliers — the promiscuous-key corpus that makes the uncapped
    bipartite projection quadratic (C(300,2)=44850 pairs per customer).
    Spend decreases with supplier id, so the top-64 cap keeps exactly
    suppliers 0..63."""
    d = tmp_path_factory.mktemp("hotcust")
    li_rows, o_rows = [], []
    for c in range(30):
        ok = c + 1
        o_rows.append(
            (ok, c, "O", 1000.0, pd.Timestamp("2024-01-05"), "1-URGENT")
        )
        for s in range(300):
            li_rows.append(
                (
                    ok, 1, s, s + 1, 1.0,
                    float(300 - s),  # spend rank = supplier id ascending
                    0.0, 0.0, "N", "O", pd.Timestamp("2024-01-10"),
                )
            )
    pd.DataFrame(
        li_rows,
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    ).to_parquet(d / "lineitem.parquet", index=False, coerce_timestamps="us")
    pd.DataFrame(
        o_rows,
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    ).to_parquet(d / "orders.parquet", index=False, coerce_timestamps="us")
    return str(d)


def test_copurchase_fanout_cap_bounds_hot_customer(spark, hot_customer_dir):
    """The per-customer top-N-by-spend cap must bound the pair work at
    C(cap,2) per customer (not C(fanout,2)), with the cap mirrored in
    the oracle so the engines still agree exactly."""
    from traj_sim_spark_spark.operators.extras2 import _CP_FANOUT_CAP

    got = registry.QUERIES["graph_copurchase"](
        spark, hot_customer_dir
    ).toPandas()
    # capped: exactly C(64,2) supplier pairs (suppliers 0..63), each
    # shared by all 30 customers; uncapped would be C(300,2) = 44850
    cap_pairs = _CP_FANOUT_CAP * (_CP_FANOUT_CAP - 1) // 2
    assert len(got) == cap_pairs, len(got)
    assert got["s1"].max() < _CP_FANOUT_CAP
    assert got["s2"].max() < _CP_FANOUT_CAP
    assert (got["shared_customers"] == 30).all()
    con = duckdb.connect()
    for tbl in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {tbl} AS "
            f"SELECT * FROM read_parquet('{hot_customer_dir}/{tbl}.parquet')"
        )
    want = con.execute(registry.ORACLES["graph_copurchase"]).fetchdf()
    assert _norm(got) == _norm(want)
