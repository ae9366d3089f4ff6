"""Connected components on adversarial graphs (FIXTURES.md F5): chain,
star, bridged cliques, self-loops/dup/reversed edges. Expected cluster_id =
min member id."""

import pyspark.sql.functions as F
import pytest

from dedup.config import DedupConfig
from dedup.operators.cluster import connected_components
from dedup.tracking import scope


def _cc(spark, config, edges, driver_path=False):
    # default: force the DISTRIBUTED star-contraction path (the adversarial
    # graphs here exist to prove its convergence); driver_path=True takes
    # the small-graph union-find fast path instead.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DedupConfig, "cc_driver_threshold", 10**9 if driver_path else -1)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        rows = connected_components(df, config).collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_chain(spark, config):
    n = 500  # O(diameter) algorithms would need 500 rounds; stars need ~log
    got = _cc(spark, config, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_star(spark, config):
    hub = 1000
    got = _cc(spark, config, [(hub, leaf) for leaf in range(2000, 2500)])
    assert set(got.values()) == {hub}
    assert len(got) == 501


def test_bridged_cliques_and_noise_edges(spark, config):
    c1 = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    c2 = [(i, j) for i in range(20, 25) for j in range(i + 1, 25)]
    bridge = [(14, 20)]
    noise = [(11, 11), (12, 10), (10, 12), (21, 20)]  # self-loop, reversed, dup
    got = _cc(spark, config, c1 + c2 + bridge + noise)
    assert set(got.values()) == {10}
    iso = _cc(spark, config, c1 + c2 + noise)  # no bridge -> two components
    assert set(iso.values()) == {10, 20}


def test_driver_union_find_matches_distributed(spark, config):
    import random

    rng = random.Random(13)
    edges = [(rng.randint(0, 300), rng.randint(0, 300)) for _ in range(400)]
    dist = _cc(spark, config, edges, driver_path=False)
    drv = _cc(spark, config, edges, driver_path=True)
    assert dist == drv


@pytest.mark.parametrize("driver_path", [False, True])
def test_empty_edge_set(spark, config, driver_path):
    assert _cc(spark, config, [], driver_path=driver_path) == {}
    # self-loops only: nothing survives the src != dst filter either
    assert _cc(spark, config, [(5, 5), (7, 7)], driver_path=driver_path) == {}


def test_string_node_ids(spark, config):
    df = spark.createDataFrame(
        [("cb", "cc"), ("ca", "cb"), ("cx", "cy")], "id_a string, id_b string"
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(df, config).collect()}
    assert got == {"ca": "ca", "cb": "ca", "cc": "ca", "cx": "cx", "cy": "cx"}


def test_no_convergence_releases_edge_checkpoint(spark, config, monkeypatch):
    """The round loop raising (no convergence) still leaves no checkpoint
    of the edge set behind once the enclosing scope exits."""
    monkeypatch.setattr(DedupConfig, "cc_driver_threshold", -1)
    monkeypatch.setattr(DedupConfig, "cc_max_iterations", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "id_a long, id_b long"
    ).repartition(8)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="did not converge"):
        with scope():
            connected_components(edges, config)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before
