"""Driver-contract guard: a fast subset of __spark_entry__.queries() vs
their oracle_sql() on DuckDB at sf0.001, replicating the driver's
rows + column-names + order-insensitive values comparison (the full
38-query sweep lives in tools/check_contract.py; this keeps the contract
from silently drifting between sweeps)."""

from __future__ import annotations

import glob
import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"

# one per contract family: typed gate, dynamic gate, text dedup, sketch,
# embedding, and the two synthesized-multimodal lanes (video, audio)
SUBSET = [
    "gate_part_typed",
    "gate_events_dynamic",
    "gate_events_dynamic_native",
    "gate_screened_combo",
    "doc_exact_dedup",
    "doc_simhash",
    "doc_minhash_signatures",
    "doc_skew_salted_pairs",
    "emb_cosine_topk",
    # the two Arrow-matmul embedding kernels: hyperplane keys and IVF cells
    "emb_ann_pairs",
    "emb_ivf_topk",
    "images_frame_sample",
    "audio_features",
    # the flagship in memory and checkpointed: one oracle for both modes
    "images_dedup_clusters",
    "images_dedup_resumable",
]


@pytest.fixture(scope="module")
def entry_mod():
    path = os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("entry_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for p in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def test_every_query_has_callable_and_sql(entry_mod):
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert set(osql) <= set(qs), "oracle_sql keys must be a subset of queries"
    # every query is value-checked: anything new must ship an oracle or be
    # enumerated here with a reason (currently: none)
    assert set(qs) - set(osql) == set()


@pytest.mark.parametrize("name", SUBSET)
def test_contract_query_matches_oracle(spark, entry_mod, oracle_con, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    odf = oracle_con.execute(entry_mod.oracle_sql()[name]).df()
    cols = sorted(sdf.columns)
    assert sorted(odf.columns) == cols, f"{name}: column names differ"
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b), f"{name}: row counts differ ({len(a)} vs {len(b)})"
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)


def test_doc_hamming_pairs_null_rows(spark, entry_mod, tmp_path):
    """Rows with a null id, lang, length band or hash never pair — as in
    the oracle's self-join — and never reach the pairing kernel, whose
    sort and XOR cannot take a null (a TypeError there fails the job)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    rows = [
        (i, " ".join(f"w{v}" for v in rng.integers(0, 50, size=6)),
            ["en", "de"][i % 2], "web", int(rng.integers(0, 120)))
        for i in range(40)
    ]
    rows += [
        (100, "null lang", None, "web", 10),
        (101, "null length", "en", "web", None),
        (102, None, "en", "web", 10),
        (None, "null id", "en", "web", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = entry_mod.q_doc_hamming_pairs(spark, str(tmp_path)).collect()

    # reference: the inline self-join formulation
    h = spark.read.parquet(str(tmp_path / "documents.parquet")).select(
        "doc_id", "lang",
        (F.col("n_chars") / 50).cast("long").alias("lb"),
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("long").alias("ph"),
    )
    a, b = h.alias("a"), h.alias("b")
    want = (
        a.join(b, ["lang", "lb"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", F.bit_count(F.col("a.ph").bitwiseXOR(F.col("b.ph"))))
        .filter(F.col("hamming") <= 28)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"), "hamming")
        .collect()
    )
    as_set = lambda rs: {(r.src, r.dst, r.hamming) for r in rs}  # noqa: E731
    assert len(got) == len(as_set(got))
    assert as_set(got) == as_set(want) and len(want) > 0
