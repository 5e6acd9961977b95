"""Generate PLANS.md — physical-plan evidence for the engine's headline
operators.

For each operator the script captures `df.explain("formatted")` output and
extracts scale-relevant facts mechanically from the plan text:

  * parquet pushdown:   PushedFilters / ReadSchema on the scan node
                        (gate predicates must reach the scan — SURVEY §4.2)
  * python boundary:    ArrowEvalPython nodes (Arrow-batched pandas UDFs;
                        per-row BatchEvalPython must NEVER appear)
  * shuffle count:      Exchange nodes (every one is a cluster-wide shuffle)
  * join strategies:    BroadcastHashJoin vs SortMergeJoin/ShuffledHashJoin
  * codegen:            WholeStageCodegen span count
  * packed exchanges:   Exchange nodes on the group-pairs partition code
                        (`part`), and Generate (explode) nodes — the
                        grouped detectors build their rows in the pack
                        task, so their plans assert one and none

A section may pin any fact with `expect=`; a drifted plan then fails the
run instead of landing in PLANS.md.

Run: python tools/explain_plans.py   (writes /root/repo/PLANS.md)
"""

from __future__ import annotations

import dataclasses
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.session import get_spark
from jsonschema_jl_spark.gate.gate import apply_gate, gate_filter
from jsonschema_jl_spark.operators.minhash import (
    normalize_signatures_bands, normalize_udf, with_signatures,
)
from jsonschema_jl_spark.operators.group_pairs import NO_CAP
from jsonschema_jl_spark.operators.lsh import candidate_pairs
from jsonschema_jl_spark.operators.phash import phash_pairs
from jsonschema_jl_spark.operators.substring import containment_pairs
from jsonschema_jl_spark.operators.similarity import cosine_topk

CFG = DedupConfig()
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

PART_SCHEMA = {
    "type": "object",
    "required": ["p_partkey", "p_name", "p_type", "p_size"],
    "properties": {
        "p_name": {"type": "string", "minLength": 5, "pattern": "^[a-z ]+$"},
        "p_retailprice": {"type": "number", "maximum": 990},
        "p_size": {"type": "integer", "minimum": 5, "maximum": 45},
        "p_type": {"enum": ["ECONOMY", "STANDARD", "PROMO", "MEDIUM"]},
    },
}

EVENTS_DYN_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 90}},
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, name: str) -> int:
    """Nodes named `name`: each has exactly one `(id) name` detail header
    (its tree line and its header would count it twice)."""
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def facts(plan: str) -> dict:
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "exchanges": plan.count("Exchange ("),
        "arrow_udf_nodes": _nodes(plan, "ArrowEvalPython"),
        "map_in_arrow_nodes": _nodes(plan, "MapInArrow"),
        "per_row_python_nodes": _nodes(plan, "BatchEvalPython"),
        "sorts": plan.count("Sort ("),
        "broadcast_joins": _nodes(plan, "BroadcastHashJoin"),
        "sortmerge_joins": _nodes(plan, "SortMergeJoin"),
        "shuffled_hash_joins": _nodes(plan, "ShuffledHashJoin"),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "part_exchanges": len(re.findall(r"^Arguments: hashpartitioning\(part#\d+, \d+\)", plan, re.M)),
        "generates": _nodes(plan, "Generate"),
        "pushed_filters": [p for p in pushed if p.strip()],
    }


def section(title: str, note: str, df, clip: int = 120, expect: dict | None = None) -> str:
    plan = plan_text(df)
    f = facts(plan)
    for k, v in (expect or {}).items():
        assert f[k] == v, f"{title}: {k} = {f[k]}, expected {v}"
    lines = plan.strip().splitlines()
    clipped = "\n".join(lines[:clip]) + ("\n… (clipped)" if len(lines) > clip else "")
    fact_lines = [
        f"- shuffles (`Exchange`): **{f['exchanges']}**",
        f"- Arrow-batched pandas-UDF nodes (`ArrowEvalPython`): **{f['arrow_udf_nodes']}**"
        + (f" + zero-copy `MapInArrow`: **{f['map_in_arrow_nodes']}**" if f['map_in_arrow_nodes'] else ""),
        f"- per-row Python nodes (`BatchEvalPython`): **{f['per_row_python_nodes']}** (must be 0)",
        f"- sorts (`Sort`): **{f['sorts']}**",
        f"- joins: {f['broadcast_joins']} broadcast / {f['sortmerge_joins']} sort-merge / {f['shuffled_hash_joins']} shuffled-hash",
        f"- whole-stage-codegen spans: {f['codegen_spans']}",
    ]
    if f["part_exchanges"]:
        fact_lines.append(
            f"- packed group-row exchanges (on `part`): **{f['part_exchanges']}**;"
            f" `Generate` nodes: **{f['generates']}**"
        )
    if f["pushed_filters"]:
        fact_lines.append(f"- parquet `PushedFilters`: `{f['pushed_filters'][0][:500]}`")
    assert f["per_row_python_nodes"] == 0, f"per-row Python UDF leaked into: {title}"
    return (
        f"## {title}\n\n{note}\n\n"
        + "\n".join(fact_lines)
        + "\n\n<details><summary>formatted plan</summary>\n\n```\n"
        + clipped
        + "\n```\n\n</details>\n"
    )


def main() -> None:
    spark = get_spark("explain_plans", cores=8)
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )

    out = [
        "# PLANS — physical-plan evidence (auto-generated by tools/explain_plans.py)",
        "",
        "Facts below are extracted mechanically from `explain('formatted')` output",
        f"over `{SF_DIR}` with AQE on. `BatchEvalPython` (per-row Python) is",
        "asserted absent from every plan — the engine's Python surface is",
        "Arrow-batched pandas UDFs only (BASELINE.json:15).",
        "",
    ]

    # 1. fully-native gate -> plain filters, pushed into the parquet scan
    out.append(section(
        "Validation gate, typed native path (`gate_filter`, part schema)",
        "The schema compiles to pure Column predicates: zero Python, zero\n"
        "shuffles, and the derivable conjuncts (`IsNotNull`, bounds, `In`)\n"
        "reach the scan as `PushedFilters`, so row groups prune before decode.\n"
        "Regex `pattern` stays a post-scan filter inside the same codegen span\n"
        "(parquet cannot evaluate it).",
        gate_filter(part, PART_SCHEMA),
    ))

    # 2. dynamic-JSON gate -> one ArrowEvalPython, no shuffle
    out.append(section(
        "Validation gate, dynamic JSON path (`apply_gate` on events.props)",
        "The dict-tree validator runs as ONE Arrow-batched pandas UDF per\n"
        "partition — a map-only plan (no Exchange): gate cost scales linearly\n"
        "with rows and parallelizes embarrassingly.",
        apply_gate(events, EVENTS_DYN_SCHEMA, json_col="props"),
    ))

    # 3. signatures: normalize once + minhash kernel, map-only after one rebalance
    slim = part.select(
        F.xxhash64("p_partkey").alias("nid"), normalize_udf(F.col("p_name")).alias("txt_norm")
    )
    out.append(section(
        "MinHash signatures (`with_signatures`, OPH kernel)",
        "One round-robin rebalance Exchange (restores parallelism after the\n"
        "column-pruned scan collapses partitions), then the OPH kernel as a\n"
        "single MapInArrow node — per-row cost is O(shingles log shingles)\n"
        "numpy, no shuffle of the signature arrays.",
        with_signatures(slim, text_col="txt_norm", cfg=CFG, keep_shingles=False,
                        assume_normalized=True),
    ))

    # 4. LSH candidate pairs: the band-key lists packed + ONE exchange + dedup
    sigs = normalize_signatures_bands(
        part.select(F.xxhash64("p_partkey").alias("nid"), "p_name"), text_col="p_name", cfg=CFG
    )
    buckets = sigs.select(F.col("nid").alias("id"), F.col("bands").alias("bucket"))
    out.append(section(
        "LSH candidate pairs (`candidate_pairs` over the band-key lists)",
        "The signature kernel emits each row's bucket keys vectorized\n"
        "(minhash.band_keys_np — the former per-row JVM slice+xxhash64\n"
        "expressions measured 147 s CPU per 108k rows) as one list, and the\n"
        "pipeline hands that list to `candidate_pairs` as it is: the pack\n"
        "MapInArrow flattens it in numpy (`id` repeated per band — no\n"
        "Generate), routes the rows by bucket and ships them as Arrow blocks\n"
        "through ONE exchange on the partition code; the pairing MapInArrow\n"
        "sorts each partition by bucket and emits every pair inside a run in\n"
        "batches of at most 2^20 — then the final (src,dst) dedup shuffle.\n"
        "No persisted exchange, size-count aggregate, survivor join or list\n"
        "aggregate. The bucket cap bounds the quadratic expansion per\n"
        "group (skew, P6) and its dropped mass is counted by accumulators.",
        candidate_pairs(buckets, CFG)[0],
        expect={"part_exchanges": 1, "generates": 0, "map_in_arrow_nodes": 3},
    ))

    # 5. phash pigeonhole: one packed exchange into the group-pairs kernel,
    #    which verifies the Hamming radius in the batch that builds the pair
    out.append(section(
        "phash Hamming pairs (`phash_pairs`, pigeonhole blocks)",
        "r+1 block keys per row by numpy shifts and masks in the pack\n"
        "MapInArrow (no Generate); pair generation is the same packed shape\n"
        "as LSH: the block rows cross ONE exchange on the partition code as\n"
        "Arrow blocks, and the group-pairs MapInArrow pairs each (block, key)\n"
        "group's members, keeping a pair when a numpy popcount of the XOR'd\n"
        "phashes is within the radius — the exact verify runs in the batch\n"
        "that builds the pair.",
        phash_pairs(part.select(F.col("p_partkey").alias("id"),
                                F.xxhash64("p_name").alias("phash")),
                    id_col="id", phash_col="phash", cfg=CFG),
        expect={"part_exchanges": 1, "generates": 0, "map_in_arrow_nodes": 2},
    ))

    # 5b. embedding ANN pairs: vectors NEVER cross the candidate shuffles
    from jsonschema_jl_spark.operators.similarity import lsh_ann_pairs, ngram_token_pairs
    out.append(section(
        "Embedding ANN pairs (`lsh_ann_pairs`, hyperplane LSH)",
        "Embeddings (the widest rows in a 100 TB corpus, 2-4 KB at dim 512+)\n"
        "are read map-side for the sign keys and projected off before the\n"
        "pack, whose MapInArrow flattens each (id, keys) row into (id, table,\n"
        "bucket) rows and ships them as Arrow blocks. Candidate id pairs come\n"
        "from the group-pairs kernel: ONE exchange of the blocks on the\n"
        "partition code and one MapInArrow that drops buckets above the cap\n"
        "and emits member pairs in batches of at most 2^20, then the\n"
        "(src,dst) dedup. Vectors re-enter only through the two narrow hash\n"
        "joins feeding the exact-cosine verify, so each vector crosses the\n"
        "wire exactly once per verify side.",
        lsh_ann_pairs(emb, dim=64, n_planes=8, n_tables=4, min_cos=0.8),
        expect={"part_exchanges": 1, "generates": 0},
    ))

    # 5c. n-gram token pairs: Generate-barrier tokenization + one-exchange pairs
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.lower(F.col("text")).alias("txt")
    )
    out.append(section(
        "n-gram candidate pairs (`ngram_token_pairs`)",
        "Tokenization runs ONCE under a Generate barrier (explode of a\n"
        "one-element array) — Catalyst cannot re-inline the split into both\n"
        "size() and slice(), which previously relied on codegen CSE across a\n"
        "lambda boundary. Each document's distinct grams stay one list,\n"
        "which the pack MapInArrow flattens into (id, gram) rows. Pair\n"
        "generation is the group-pairs kernel: ONE packed exchange on the\n"
        "partition code and one MapInArrow that drops grams above the anchor\n"
        "cap and emits member pairs in batches of at most 2^20; shared-gram\n"
        "counts fall out of a groupBy over the pairs. No size-count\n"
        "aggregate, survivor join or list aggregate.",
        ngram_token_pairs(docs, id_col="doc_id", text_col="txt"),
        expect={"part_exchanges": 1, "generates": 1},
    ))

    # 6. containment: sparse byte anchors packed, texts re-fetched narrowly
    out.append(section(
        "Exact-substring containment (`containment_pairs`, sparse anchors)",
        "The pack MapInArrow reads each text's UTF-8 buffer once and builds\n"
        "its probe and strided byte-gram rows in numpy, one fixed-width\n"
        "shape (key, id, len, pos, h1) — no Generate, no per-row JVM hashing\n"
        "beyond the full-text h1 — and ships them as Arrow blocks through\n"
        "ONE exchange on the partition code; the group-pairs MapInArrow\n"
        "pairs each anchor's probes with its grams, drops anchors above the\n"
        "cap, and keeps a pair only when the derived byte offset places the\n"
        "shorter probe inside the container. The verify recomputes the\n"
        "hash of the container's bytes AT THAT OFFSET (one corpus-sized\n"
        "text exchange; probe text never moves); only the hash-matched\n"
        "minority fetches the probe text for the exact byte-equality\n"
        "confirm, so the result never depends on a hash. Hash-join builds\n"
        "are text relations, never candidates.",
        containment_pairs(docs, id_col="doc_id", text_col="txt", cfg=CFG,
                          assume_normalized=True),
        expect={"part_exchanges": 1, "generates": 0, "map_in_arrow_nodes": 2},
    ))

    # 7. brute-force cosine top-k: broadcast of the query side
    queries = emb.filter(F.col("vec_id") < 8)
    out.append(section(
        "Embedding cosine top-k (`cosine_topk`, brute force baseline)",
        "The (small) query set is broadcast against the corpus — scan-local\n"
        "dot products via native `aggregate`/`zip_with` expressions, then one\n"
        "shuffle for the per-query top-k window.",
        cosine_topk(emb, k=3, queries=queries),
    ))

    # 8. exact skew path: the same one-exchange plan with no cap
    out.append(section(
        "Uncapped candidate pairs (`candidate_pairs` with `NO_CAP`, exact skew path)",
        "Uncapped streamed pairing: the plan is §4's — ONE packed exchange\n"
        "and the pairing MapInArrow — with a cap no bucket reaches, so\n"
        "every pair is emitted (no recall loss). A hot bucket is\n"
        "paired in the task that receives it and its pairs leave in batches\n"
        "of at most 2^20, so no task holds a quadratic array. The flagship\n"
        "caps hot buckets instead and counts the dropped mass in\n"
        "accumulators.",
        candidate_pairs(buckets, dataclasses.replace(CFG, bucket_cap=NO_CAP))[0],
        expect={"part_exchanges": 1, "generates": 0, "map_in_arrow_nodes": 3},
    ))

    # 9. dynamic gate, verdict-only: columnar screen decides most rows in
    #    pyarrow C++; the dict-walk UDF sees only the undecided residue.
    out.append(section(
        "Dynamic gate, verdict-only fast path (`gate_filter` on events.props)",
        "Still ONE map-only ArrowEvalPython node — but inside it the columnar\n"
        "screen (gate/columnar.py) parses the JSON column once with pyarrow\n"
        "C++ and resolves certainly-valid AND certainly-invalid rows without\n"
        "touching Python dicts; only the undecided residue pays the dict\n"
        "walk. Plan shape is identical to §2 (no Exchange) — the win is\n"
        "inside the kernel, measured in BENCH (gate_dynamic).",
        gate_filter(events, EVENTS_DYN_SCHEMA, json_col="props"),
    ))

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
