"""Connected components (P11): one function, two paths, both run to
convergence.

`connected_components` lands and counts the edges once, then picks a path
from the count it observed:

  * **kernel path** (|E| <= `_TASK_EDGE_BUDGET`, ~64 MB of (src, dst)):
    every edge goes to ONE Arrow task.  The task dictionary-encodes the ids
    over their sorted unique values, so the min index is the min id (for
    long and string ids alike), labels the indices with a numpy
    hook + pointer-jump loop that stops only at a fixpoint, and emits
    (id, component): one labeling job, whatever the graph's diameter.
    The budget is a one-task memory bound, not a crossover with the star
    path: on 2^22 random edges the kernel path takes ~11 s and the star
    path ~165 s at local[4] (tools/cc_path_timing.py), so on one host the
    crossover lies above it.  The images bench has a few thousand edges;
    the 10x stress draw's edge count was never recorded (at least ~1.2M:
    6.0M rows fell into 4.80M components), so which path it takes is
    unknown.
  * **star path** (larger edge sets): alternating large-star / small-star
    rounds (Kiveris et al., SoCC'14), O(log n) rounds even on paths and
    meshes, every exchange sized to the edges.  It loops until the edge
    set's signature is stable and raises if `max_iters` rounds pass without
    that — no path returns labels from an unconverged loop.

Both paths label every endpoint of a non-loop edge (plus `vertices`, when
given) with the min vertex id of its component.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F, types as T

# the kernel path's edge ceiling, a memory bound on its one task: 2^22
# (src, dst) pairs of longs is ~64 MB
_TASK_EDGE_BUDGET = 1 << 22
# star-path edges per shuffle partition
_STAR_EDGES_PER_PARTITION = 250_000


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 25,
) -> DataFrame:
    """edges: (src, dst).  Returns (id, component) — component is the min
    vertex id reachable; singleton vertices (when `vertices` is given) keep
    their own id.

    `max_iters` bounds only the star path (edge sets over
    `_TASK_EDGE_BUDGET`), whose shuffles are sized from the observed edge
    count; the kernel path has no rounds and no exchange."""
    src_t = edges.schema["src"].dataType
    # land the edges once, counting them in the same job: every later pass
    # reads this copy, so the upstream detector cascade runs exactly once
    seen = Observation()
    landed = (
        edges.select("src", F.col("dst").cast(src_t).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n = seen.get["n"]
    if n > _TASK_EDGE_BUDGET:
        # edge-sized shuffles, never more than the session's own count
        session_par = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        par = min(session_par, max(8, -(-n // _STAR_EDGES_PER_PARTITION)))
        return _star_components(landed, vertices, max_iters, par)
    out_t = T.StructType([T.StructField("id", src_t), T.StructField("component", src_t)])
    # the edges are landed, so coalesce(1) reads them into the one kernel
    # task with no exchange
    labels = landed.coalesce(1).mapInArrow(_label_task, out_t).localCheckpoint(eager=True)
    return _with_singletons(labels, vertices)


def _label_task(batches):
    """mapInArrow body of the kernel path: all edges arrive in this task."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    n_e = sum(b.num_rows for b in batches)
    ends = pa.concat_arrays(
        [b.column(0) for b in batches] + [b.column(1) for b in batches]
    )
    enc = pc.dictionary_encode(ends)
    # re-code over the SORTED unique ids: index order is id order, so a
    # component's min index is its min id
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(order.size, dtype=np.int64)
    rank[order] = np.arange(order.size)
    codes = rank[enc.indices.to_numpy()]
    ids = enc.dictionary.take(pa.array(order))
    lab = _min_labels(codes[:n_e], codes[n_e:], order.size)
    yield pa.RecordBatch.from_arrays([ids, ids.take(pa.array(lab))], names=["id", "component"])


def _min_labels(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Min-index component label of every vertex 0..n-1 under edges (u, v).

    Hook every root onto the smallest root across its edges, pointer-jump
    to a fixpoint, repeat until every edge's ends share a label.  lab[x] is
    always <= x and in x's component, so at that fixpoint each component is
    labelled with its min index; each hooking pass strictly lowers some
    root's label, so the loop terminates without a rounds cap."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        lu, lv = lab[u], lab[v]
        live = lu != lv
        if not live.any():
            return lab
        # an edge whose ends share a label keeps sharing one: drop it
        u, v, lu, lv = u[live], v[live], lu[live], lv[live]
        m = np.minimum(lu, lv)
        np.minimum.at(lab, lu, m)
        np.minimum.at(lab, lv, m)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _signature(e: DataFrame) -> tuple:
    """(edge count, XOR of full 64-bit edge hashes).  Edges are distinct, so
    XOR cancellation cannot hide a change; two different edge sets
    colliding on both fields is a 2^-64 event."""
    r = e.agg(
        F.count("*").alias("n"), F.expr("bit_xor(xxhash64(a, b))").alias("h")
    ).collect()[0]
    return (r["n"], r["h"])


def _star_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 25,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components.

    The two-round primitive from "Connected Components in MapReduce and
    Beyond" (Kiveris et al., SoCC'14): converges in O(log n) rounds even on
    high-diameter graphs (paths, meshes).  Each round is a groupBy-min +
    join on the node id — the same shuffle key throughout.

      large-star: every neighbor v > u links to min(N(u) ∪ {u})
      small-star: every neighbor v <= u (and u) links to min(N<=(u) ∪ {u})

    Raises RuntimeError when `max_iters` rounds pass without the edge set's
    signature repeating.

    `shuffle_partitions` (which `connected_components` derives from the
    edge count) sizes the loop's shuffles to the EDGE data with PER-PLAN
    scoping: every exchange inside the loop comes from an explicit
    repartition on the round key `a` (which the dedup/groupBy/join
    downstream all reuse — hash partitioning on a subset of the clustering
    keys satisfies their required distribution), so concurrent queries
    planned on the same session keep their own
    `spark.sql.shuffle.partitions`.  Corpus-sized counts make each round
    scheduling-latency-bound (~11 s of core-count-independent tail at 48
    partitions), while edges are orders of magnitude smaller."""

    def _scoped(df: DataFrame) -> DataFrame:
        # one explicit edge-sized exchange on the round key; a no-op
        # pass-through when unscoped (session conf governs)
        if shuffle_partitions is not None:
            return df.repartition(shuffle_partitions, "a")
        return df

    # directed representation: (a, b) with a > b
    e = (
        _scoped(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        )
        .dropDuplicates(["a", "b"])
    ).localCheckpoint(eager=True)
    sig = _signature(e)
    for _ in range(max_iters):
        # ---- large-star over the symmetric view ----
        sym = _scoped(
            e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select("a", F.least("a", "mn").alias("m"))
        ls = (
            _scoped(
                sym.join(mins, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b"))
            )
            .dropDuplicates(["a", "b"])
        )
        # ---- small-star over the directed (big -> small) view ----
        mins2 = ls.groupBy("a").agg(F.min("b").alias("m"))
        ss = (
            _scoped(
                ls.join(mins2, "a")
                .filter(F.col("b") != F.col("m"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .unionByName(mins2.select(F.col("a"), F.col("m").alias("b")))
                .filter(F.col("a") != F.col("b"))
            )
            .dropDuplicates(["a", "b"])
        )
        e = ss.localCheckpoint(eager=True)
        prev, sig = sig, _signature(e)
        if sig == prev:
            break
    else:
        raise RuntimeError(
            f"star connected components did not converge in {max_iters} rounds"
        )

    roots = e.select(F.col("b").alias("id")).distinct().join(
        e.select(F.col("a").alias("id")).distinct(), "id", "left_anti"
    )
    labels = e.select(F.col("a").alias("id"), F.col("b").alias("component")).unionByName(
        roots.select("id", F.col("id").alias("component"))
    )
    return _with_singletons(labels, vertices)


def _with_singletons(labels: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Add every vertex as its own candidate label and keep the min per id:
    a labelled id's component is never above the id, so it wins, and an
    unlabelled vertex keeps its own id.  One aggregation, one exchange."""
    if vertices is None:
        return labels
    verts = vertices.select(F.col(vertices.columns[0]).alias("id"))
    return (
        labels.unionByName(verts.select("id", F.col("id").alias("component")))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
