"""Connected-components correctness: the one-task kernel path and the
large-star/small-star path, each against a driver-side union-find oracle."""

from __future__ import annotations

import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from jsonschema_jl_spark.operators import components
from jsonschema_jl_spark.operators.components import connected_components


def _oracle(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


@pytest.fixture(params=["kernel", "star"])
def path(request, monkeypatch):
    """Run the test body on one CC path, and check that path really ran."""
    calls = []
    star = components._star_components

    def spy(*args, **kwargs):
        calls.append(1)
        return star(*args, **kwargs)

    monkeypatch.setattr(components, "_star_components", spy)
    if request.param == "star":
        # every edge count, even zero, is over the budget
        monkeypatch.setattr(components, "_TASK_EDGE_BUDGET", -1)
    yield request.param
    assert bool(calls) == (request.param == "star")


def _check(spark, edges, vertices, kind, **kwargs):
    """connected_components == _oracle, with `long` or `string` ids (the
    string form zero-pads, so both kinds share one id order)."""
    if kind == "string":
        edges = [(f"v{a:05d}", f"v{b:05d}") for a, b in edges]
        vertices = [f"v{v:05d}" for v in vertices]
    edf = spark.createDataFrame(edges, f"src {kind}, dst {kind}")
    vdf = spark.createDataFrame([(v,) for v in vertices], f"id {kind}")
    out = connected_components(edf, vertices=vdf, **kwargs)
    got = {r.id: r.component for r in out.collect()}
    assert got == _oracle(edges, vertices)
    return got


@pytest.mark.parametrize("kind", ["long", "string"])
def test_planted_clusters(spark, path, kind):
    edges = [(i, i + 1) for i in range(0, 30, 3)]
    edges += [(40, 41), (41, 42), (40, 42)]
    _check(spark, edges, range(60), kind)


@pytest.mark.parametrize("kind", ["long", "string"])
def test_random_graph(spark, path, kind):
    rng = random.Random(7)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(50)]
    _check(spark, [(a, b) for a, b in edges if a != b], range(80), kind)


@pytest.mark.parametrize("kind", ["long", "string"])
def test_no_edges(spark, path, kind):
    _check(spark, [], range(3), kind)


@pytest.mark.parametrize("kind", ["long", "string"])
def test_long_chain(spark, path, kind):
    # high-diameter path: the star path converges well under O(n) rounds
    got = _check(spark, [(i, i + 1) for i in range(119)], range(120), kind, max_iters=12)
    assert len(set(got.values())) == 1


def test_kernel_path_graph_needs_no_rounds_cap(spark):
    """A 2,000-vertex path visiting its ids in random order labels with
    max_iters=1 on the kernel path (the star path would raise): the kernel
    has no rounds to cap."""
    order = list(range(2000))
    random.Random(11).shuffle(order)
    got = _check(spark, list(zip(order, order[1:])), range(2000), "long", max_iters=1)
    assert set(got.values()) == {0}


def test_star_path_unconverged_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(199)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        components._star_components(edges, max_iters=1)


def test_min_labels_matches_oracle():
    """The kernel's numpy labeling, without Spark: random multigraphs with
    self-loops and a path over a random id order."""
    rng = np.random.default_rng(3)
    for _ in range(100):
        n = int(rng.integers(1, 200))
        u, v = rng.integers(0, n, (2, int(rng.integers(0, 300))))
        want = _oracle(zip(u.tolist(), v.tolist()), range(n))
        assert components._min_labels(u, v, n).tolist() == [want[x] for x in range(n)]
    perm = rng.permutation(5000)
    assert (components._min_labels(perm[:-1], perm[1:], 5000) == 0).all()


def test_convergence_signature_distinguishes(spark):
    """The star path's convergence signature (count, bit_xor of full
    xxhash64) must separate distinct same-size edge sets — the retired
    `sum(hash % 1_000_003)` form threw away most hash bits."""

    def sig(rows):
        return components._signature(spark.createDataFrame(rows, "a string, b string"))

    s1 = sig([("a", "b"), ("c", "d")])
    s2 = sig([("a", "b"), ("c", "e")])
    assert s1 != s2          # same count, different edges -> different hash
    assert s1 == sig([("c", "d"), ("a", "b")])  # order-insensitive


def test_star_shuffle_partitions_scoped(spark, monkeypatch):
    """The star path sizes its shuffles from the observed edge count
    (min(session count, max(8, ceil(n / 250k))): 8 here) with per-plan
    scoping: the session conf is never touched, a concurrent aggregation
    planned mid-loop keeps the session count, every loop exchange is
    edge-sized, and labels equal a session-partitioned run's."""
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    session_par = "16"
    seen: dict = {"concurrent": [], "loop": []}
    edges = spark.createDataFrame([(i, i + 1) for i in range(0, 40, 2)], "src long, dst long")
    # the session's concrete DataFrame class, which overrides the base one
    frame = type(edges)
    checkpoint = frame.localCheckpoint

    def parts(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [int(n) for n in re.findall(r"hashpartitioning\([^)]*?(\d+)\)", plan)]

    def probing_cp(df, eager=True):
        # conf is untouched mid-loop...
        assert spark.conf.get(conf) == session_par
        # ...a concurrent aggregation plans at the SESSION count...
        seen["concurrent"] += parts(spark.range(100).groupBy((F.col("id") % 7).alias("k")).count())
        # ...while the loop's own plans are edge-sized
        seen["loop"] += parts(df)
        return checkpoint(df, eager)

    spark.conf.set(conf, session_par)
    try:
        unscoped = {(r.id, r.component) for r in components._star_components(edges).collect()}
        monkeypatch.setattr(components, "_TASK_EDGE_BUDGET", -1)
        monkeypatch.setattr(frame, "localCheckpoint", probing_cp)
        scoped = {(r.id, r.component) for r in connected_components(edges).collect()}
        assert spark.conf.get(conf) == session_par
    finally:
        spark.conf.set(conf, before)
    assert scoped == unscoped
    assert (1, 0) in scoped and (40, 40) not in scoped
    assert seen["concurrent"] and set(seen["concurrent"]) == {int(session_par)}
    # every loop exchange (scoped repartitions + the aggs/dedups reusing
    # them) is edge-sized; the eager checkpoints truncate lineage, so no
    # session-sized setup exchange survives in the probed plans
    assert set(seen["loop"]) == {8}, seen["loop"]
