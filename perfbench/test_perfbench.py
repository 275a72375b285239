"""Tests of the benchmark itself: seeded inputs, the event-log digest and
the output checks.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Tracer, digest, jobs_for_group, read_event_log  # noqa: E402


def _write_inputs(d, seed):
    rng = np.random.default_rng([seed, 1])
    gen.write_points(os.path.join(d, "P.parquet"), gen.clustered_points(rng, 5000))
    gen.write_edges(os.path.join(d, "G.parquet"), gen.planted_graph(rng, 500))
    return {n: open(os.path.join(d, n), "rb").read() for n in ("P.parquet", "G.parquet")}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d in (a, b, c):
        d.mkdir()
    first, second = _write_inputs(a, 7), _write_inputs(b, 7)
    assert first == second
    other = _write_inputs(c, 8)
    assert all(first[n] != other[n] for n in first)


def test_planted_graph_has_the_adversarial_shapes():
    edges = gen.planted_graph(np.random.default_rng(0), 400)
    src, dst = edges[:, 0], edges[:, 1]
    loops = src == dst
    assert loops.any()
    # nodes whose only edge is a self-loop
    only_loop = set(src[loops]) - set(src[~loops]) - set(dst[~loops])
    assert len(only_loop) >= 5
    # duplicate and reversed edges
    keys = src * 10**6 + dst
    assert np.unique(keys).size < keys.size
    rev = set(zip(dst.tolist(), src.tolist()))
    assert any((a, b) in rev for a, b in zip(src.tolist(), dst.tolist()) if a != b)
    # small components beyond the planted nodes
    assert (src >= 400).sum() > 10


def test_checks_reject_planted_wrong_answers():
    rng = np.random.default_rng(3)
    pts = gen.clustered_points(rng, 2000)
    ids = oracle.range_ids(pts, (400, 400), (600, 600))
    want = oracle.checksum(ids)
    assert oracle.check_checksum(want, want) is None
    assert oracle.check_checksum(oracle.checksum(ids[1:]), want) is not None
    swapped = np.concatenate([ids[:-1], [ids[-1] + 1]])
    assert oracle.check_checksum(oracle.checksum(swapped), want) is not None

    left, right = pts[:300], pts[300:900]
    pairs, nn = oracle.join_oracle(left, right, 15.0, 3)
    l_ids, r_ids = np.divmod(pairs, len(right))
    assert oracle.check_pairs(l_ids, r_ids, len(right), pairs) is None
    assert oracle.check_pairs(l_ids[1:], r_ids[1:], len(right), pairs) is not None

    l_knn = np.repeat(np.arange(len(left)), 3)
    r_knn = nn.ravel().copy()
    sample = np.arange(len(left))
    assert oracle.check_knn_join(l_knn, r_knn, nn, sample) is None
    wrong = r_knn.copy()
    wrong[0] = next(i for i in range(len(right)) if i not in nn[0])
    assert oracle.check_knn_join(l_knn, wrong, nn, sample) is not None
    assert oracle.check_zknn(l_knn, r_knn, nn, 0.9) is None
    far = (r_knn + 7) % len(right)
    assert oracle.check_zknn(l_knn, far, nn, 0.9) is not None

    # a node silently missing from a graph op's output is a failure
    rows = [(0, 0), (1, 0), (2, 2), (3, 2)]
    assert oracle.check_rows(list(reversed(rows)), rows) is None
    assert oracle.check_rows(rows[:-1], rows) is not None
    assert oracle.check_rows([(0, float("nan"))], [(0, None)]) is None


def test_numpy_dbscan_matches_the_duckdb_mirror():
    duckdb = pytest.importorskip("duckdb")
    from simba_spark.operators.clustering import dbscan_sql

    pts = gen.clustered_points(np.random.default_rng(5), 600)
    import pandas as pd

    df = pd.DataFrame({"id": np.arange(len(pts)), "x": pts[:, 0], "y": pts[:, 1]})
    con = duckdb.connect()
    con.register("pts", df)
    want = con.execute(dbscan_sql("pts", ["x", "y"], 20.0, 4, "id")).fetchall()
    got = oracle.dbscan_rows(pts, 20.0, 4)
    assert {r[1] for r in got} == {"core", "border", "noise"}
    assert oracle.check_rows(got, want) is None


def test_digest_job_count_matches_status_tracker(tmp_path):
    import simba_spark as sb

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = sb.get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=4,
                         extra_conf={"spark.ui.showConsoleProgress": "false",
                                     "spark.eventLog.enabled": "true",
                                     "spark.eventLog.dir": f"file://{log_dir}",
                                     "spark.eventLog.compress": "false",
                                     "spark.eventLog.rolling.enabled": "false"})
    try:
        ctx = sb.SimbaContext(spark)
        pts = gen.clustered_points(np.random.default_rng(1), 2000)
        gen.write_points(str(tmp_path / "P.parquet"), pts)
        df = spark.read.parquet(str(tmp_path / "P.parquet"))
        tracer = Tracer("test", True)
        tracer.sc = spark.sparkContext
        with tracer.span("distance_join") as sp:
            pairs = ctx.distance_join(df, df, ["x", "y"], ["x", "y"], 5.0,
                                      left_prefix="l_", right_prefix="r_")
            pairs.count()
        tracked = len(spark.sparkContext.statusTracker().getJobIdsForGroup(sp["id"]))
    finally:
        spark.stop()
    log = read_event_log(str(log_dir))
    assert tracked > 0
    assert jobs_for_group(log, sp["id"]) == tracked
    # distance_join starts no threads of its own, so all its jobs carry the group
    assert digest(tracer.spans, log)[sp["id"]]["jobs"] == tracked
