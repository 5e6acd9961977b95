"""Time connected_components' two paths on the same random edge sets.

For each k given, 2^k int64 edges over 2^(k+1) vertex ids (the sparse
worst case for the one-task kernel: about twice as many vertices as
edges) are generated and landed, then labelled once on the kernel path
and once on the star path (forced by setting `_TASK_EDGE_BUDGET` to -1).
Prints one dict per k with both wall times and whether the two label
sets are identical (count and bit_xor of xxhash64 over (id, component)).

Usage: python tools/cc_path_timing.py [k ...]   (default 20 22;
local[4], 4 GB driver)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from jsonschema_jl_spark.operators import components  # noqa: E402
from jsonschema_jl_spark.session import get_spark  # noqa: E402


def main(ks: list[int]) -> None:
    spark = get_spark(cores=4, shuffle_partitions=8, extra_conf={"spark.driver.memory": "4g"})
    spark.sparkContext.setLogLevel("ERROR")
    budget = components._TASK_EDGE_BUDGET
    try:
        for k in ks:
            n_v = 2 << k
            edges = (
                spark.range(1 << k, numPartitions=8)
                .select(
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_v)).alias("src"),
                    F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_v)).alias("dst"),
                )
                .localCheckpoint(eager=True)
            )
            row: dict = {"log2_edges": k}
            sigs = {}
            for path in ("kernel", "star"):
                components._TASK_EDGE_BUDGET = budget if path == "kernel" else -1
                t = time.perf_counter()
                out = components.connected_components(edges).localCheckpoint(eager=True)
                row[f"{path}_s"] = round(time.perf_counter() - t, 2)
                sigs[path] = tuple(
                    out.agg(F.count("*"), F.expr("bit_xor(xxhash64(id, component))")).collect()[0]
                )
            components._TASK_EDGE_BUDGET = budget
            row["labels"] = sigs["kernel"][0]
            row["same_labels"] = sigs["kernel"] == sigs["star"]
            print(row, flush=True)
    finally:
        components._TASK_EDGE_BUDGET = budget
        spark.stop()


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or [20, 22])
