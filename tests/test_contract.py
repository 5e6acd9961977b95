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
