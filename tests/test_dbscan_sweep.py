"""Distributed DBSCAN + sweep vs the brute-force union-find oracle
(SURVEY.md §5.2-2/-3) on MDL-partitioned fixture segments."""

import numpy as np
import pandas as pd
import pytest

from fixtures import gen_pages, oracle
from imc import dbscan, extract, joins, kernels, segments, sweep
from imc.config import IMCParams

PARAMS = IMCParams(eps=1.2, min_lns=3)


@pytest.fixture(scope="module")
def fixture_data(spark):
    path = gen_pages.ensure_pages(sf=0.001)
    pages = spark.read.parquet(path)
    pts = extract.pages_to_points(pages)
    seg_df = segments.mdl_segments(pts)
    seg_df.cache().count()
    pairs = joins.eps_join(seg_df, PARAMS)
    pairs.cache().count()
    return seg_df, pairs


def test_dbscan_matches_oracle(spark, fixture_data):
    seg_df, pairs = fixture_data
    got = dbscan.dbscan(seg_df, pairs, PARAMS).toPandas()

    pdf = seg_df.toPandas().sort_values("seg_id")
    want = oracle.dbscan_oracle(
        pdf["seg_id"].to_numpy(np.int64),
        pdf["traj_id"].to_numpy(np.int64),
        pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64),
        PARAMS.eps, PARAMS.min_lns)

    got_s = got.sort_values("seg_id").reset_index(drop=True)
    want_s = want.sort_values("seg_id").reset_index(drop=True)
    assert len(got_s) == len(want_s)
    pd.testing.assert_frame_equal(
        got_s.astype({"seg_id": "int64", "cluster_id": "int64", "is_core": "bool"}),
        want_s.astype({"seg_id": "int64", "cluster_id": "int64", "is_core": "bool"}))


def test_dbscan_invariants(spark, fixture_data):
    seg_df, pairs = fixture_data
    got = dbscan.dbscan(seg_df, pairs, PARAMS).toPandas()
    # every segment at most one cluster
    assert got["seg_id"].is_unique
    # cluster ids dense from 0
    cids = sorted(got["cluster_id"].unique())
    assert cids == list(range(len(cids)))
    # each surviving cluster has >= MinLns distinct trajectories
    traj = seg_df.select("seg_id", "traj_id").toPandas()
    m = got.merge(traj, on="seg_id")
    per = m.groupby("cluster_id")["traj_id"].nunique()
    assert (per >= PARAMS.min_lns).all()
    # clusters exist (corridors are dense enough)
    assert len(cids) >= 3


def test_sweep_matches_oracle(spark, fixture_data):
    seg_df, pairs = fixture_data
    assign = dbscan.dbscan(seg_df, pairs, PARAMS)
    rep = sweep.representative_trajectories(seg_df, assign, PARAMS).toPandas()

    adf = assign.toPandas().merge(seg_df.toPandas(), on="seg_id")
    for cid, grp in adf.groupby("cluster_id"):
        segs = grp.sort_values("seg_id")[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        want = oracle.sweep_oracle(segs, PARAMS.min_lns, PARAMS.gamma)
        mine = (rep[rep["cluster_id"] == cid]
                .sort_values("pt_seq")[["x", "y"]].to_numpy(np.float64))
        assert mine.shape == want.shape, f"cluster {cid}"
        np.testing.assert_allclose(mine, want, atol=1e-9, err_msg=f"cluster {cid}")


def test_rep_polylines_near_corridor_centerlines(spark, fixture_data):
    """Sanity layer (FIXTURES.md §5): representative points lie close to a
    true corridor centerline (within corridor half-width + 2σ)."""
    seg_df, pairs = fixture_data
    assign = dbscan.dbscan(seg_df, pairs, PARAMS)
    rep = sweep.representative_trajectories(seg_df, assign, PARAMS).toPandas()
    truth = gen_pages.venue_truth()
    edges = truth[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
    tol = 1.0 + 2 * 0.25
    ok = 0
    for _, r in rep.iterrows():
        d = kernels.point_segment_distance(
            np.full(len(edges), r["x"]), np.full(len(edges), r["y"]),
            edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]).min()
        ok += d <= tol
    assert ok / max(len(rep), 1) > 0.9


def test_cluster_sse_hand_computed(spark):
    """QMeasure terms ([T] §6.2): two parallel unit segments at distance 1
    in one cluster → SSE = dist²/|C| = 1/2; singleton cluster → SSE 0."""
    import pandas as pd
    from imc import quality
    segs = spark.createDataFrame(pd.DataFrame({
        "seg_id": [1, 2, 3],
        "x1": [0.0, 0.0, 100.0], "y1": [0.0, 1.0, 0.0],
        "x2": [1.0, 1.0, 101.0], "y2": [0.0, 1.0, 0.0],
    }))
    assign = spark.createDataFrame(pd.DataFrame({
        "seg_id": [1, 2, 3], "cluster_id": [0, 0, 1],
        "is_core": [True, True, True],
    }))
    got = quality.cluster_sse(segs, assign).toPandas().set_index("cluster_id")
    assert got.loc[0, "n_segs"] == 2 and got.loc[0, "sse"] == 0.5
    assert got.loc[1, "n_segs"] == 1 and got.loc[1, "sse"] == 0.0
    q = quality.qmeasure(segs, assign)
    assert q == 0.5


def test_rank_components_two_level_equals_global_order(spark):
    """r5 (VERDICT r04 #6): canonical cluster ids come from a rank-within-
    venue + venue-offset pair — identical ids to a global ascending-comp
    row_number, with no single-partition window over the cluster set (the
    row_number window must partition by venue)."""
    from pyspark.sql import functions as F

    from imc.config import VENUE_STRIDE
    from imc.segments import SEG_ID_STRIDE
    stride = SEG_ID_STRIDE * VENUE_STRIDE
    rng = np.random.default_rng(3)
    # clusters scattered over 40 venues, several per venue, unsorted input
    comps = sorted({int(v) * stride + int(o)
                    for v in rng.integers(0, 40, size=300)
                    for o in rng.integers(0, 99999, size=3)})
    rng.shuffle(arr := np.array(comps, dtype=np.int64))
    df = spark.createDataFrame([(int(c),) for c in arr], "comp long")

    out = dbscan.rank_components(df)
    got = out.toPandas().sort_values("comp").reset_index(drop=True)
    assert got["cluster_id"].tolist() == list(range(len(comps)))
    assert got["comp"].tolist() == comps  # ascending comp ⇔ ascending id

    # plan gate: every row_number window partitions by _v (venue) — the
    # only global window is the per-venue offset running sum
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)",
                           plan):
        assert "_v" in spec, plan[:3000]


def _cross_venue_segments(n_venues=4, trajs=3, per_traj=12, seed=7):
    """Trajectories of several venues walking ONE shared corridor, so
    ε-pairs join segments of different venues and every cluster spans
    venues (seg_id = traj_id·SEG_ID_STRIDE + k, traj_id =
    venue·VENUE_STRIDE + t — the pipeline's id layout)."""
    from imc.config import VENUE_STRIDE
    from imc.segments import SEG_ID_STRIDE
    rng = np.random.default_rng(seed)
    rows = []
    for v in range(n_venues):
        for t in range(trajs):
            traj = v * VENUE_STRIDE + t
            x0 = rng.uniform(0, 1.0)
            for k in range(per_traj):
                x1 = x0 + 1.5 * k
                y = 0.3 * np.sin(x1 / 4) + rng.normal(0, 0.1)
                rows.append((traj * SEG_ID_STRIDE + k, traj, x1, y,
                             x1 + 1.5, y + rng.normal(0, 0.1)))
    return pd.DataFrame(rows, columns=["seg_id", "traj_id", "x1", "y1",
                                       "x2", "y2"])


def test_dbscan_components_spanning_venues_match_oracle(spark, monkeypatch):
    """ε-pairs that cross venues put one component's edges into several
    partitions (pairs are keyed by the venue of a_seg). The residual graph
    of the per-partition labels must be non-empty and its contraction
    must give the oracle's exact assignments."""
    pdf = _cross_venue_segments()
    seg_df = spark.createDataFrame(pdf)
    pairs = joins.eps_join(seg_df, PARAMS)
    pairs_pd = pairs.toPandas()
    stride = 10 ** 9  # SEG_ID_STRIDE × VENUE_STRIDE
    assert ((pairs_pd["a_seg"] // stride) != (pairs_pd["b_seg"] // stride)).any()

    residual_edges = []
    real = dbscan._connected_components

    def spy(edges, nodes, *a, **k):
        residual_edges.append(edges.count())
        return real(edges, nodes, *a, **k)

    monkeypatch.setattr(dbscan, "_connected_components", spy)
    # one shuffle partition per venue key: AQE must not coalesce the tiny
    # venue partitions back into one
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        got = dbscan.dbscan(seg_df, pairs, PARAMS).toPandas()
    finally:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert residual_edges and residual_edges[0] > 0

    want = oracle.dbscan_oracle(
        pdf["seg_id"].to_numpy(np.int64), pdf["traj_id"].to_numpy(np.int64),
        pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64),
        PARAMS.eps, PARAMS.min_lns)
    got_s = got.sort_values("seg_id").reset_index(drop=True)
    want_s = want.sort_values("seg_id").reset_index(drop=True)
    types = {"seg_id": "int64", "cluster_id": "int64", "is_core": "bool"}
    pd.testing.assert_frame_equal(got_s.astype(types), want_s.astype(types))
    # the check has teeth: some cluster holds segments of several venues
    venues = (got_s["seg_id"] // stride).groupby(got_s["cluster_id"]).nunique()
    assert (venues > 1).any()


def test_dbscan_persisted_rdds_per_call(spark, fixture_data):
    """One dbscan call leaves at most 4 persisted RDDs: the ε-pair and
    core-id checkpoints, the partition-local labels and the (empty)
    residual edge list. The old per-round loop left 17."""
    seg_df, pairs = fixture_data
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    dbscan.dbscan(seg_df, pairs, PARAMS).count()
    assert jsc.getPersistentRDDs().size() - before <= 4
