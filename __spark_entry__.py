"""Driver contract for the spark-graft builder (PySpark target).

entry()    — flagship: gate -> MinHash/LSH -> verify -> phash -> containment
             -> connected components over an images table derived from the
             sf0.001 documents parquet (input_hint shape) with planted dups.
queries()  — one entry per implemented operator (SURVEY.md §2 / §2.11).
oracle_sql() — DuckDB-equivalent SQL for EVERY query (zero rows-only rows:
even the MinHash signatures are value-checked, via a DuckDB re-derivation
of the complete OPH math in mod-2^64 SQL arithmetic — see _oph_oracle_sql).
Everything else is value-checked against DuckDB — including the full image
dedup clustering (exact all-pairs detector mirror + recursive-CTE connected
components), the PNG decode stats (payloads are deterministic functions of
doc_id), the LSH-ANN operator via a planted-pair construction, and the
typed gate breakdown via a CASE mirror of keyword order.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.gate.gate import apply_gate, gate_filter
from jsonschema_jl_spark.operators import textops
from jsonschema_jl_spark.operators.similarity import (
    cosine_topk,
    exact_dedup,
    lsh_ann_pairs,
    ngram_token_pairs,
)
from jsonschema_jl_spark.operators.minhash import with_signatures
from jsonschema_jl_spark.operators.components import connected_components
from jsonschema_jl_spark.operators.group_pairs import NO_CAP, block_emitter, pair_groups, same_rows
from jsonschema_jl_spark.operators.pipeline import dedup_pipeline
from jsonschema_jl_spark.datagen.from_documents import images_from_documents

CFG = DedupConfig()

# normalized text, shared by engine (textops.normalized_text) and oracle
_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/part.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    images = images_from_documents(spark, "/root/testdata/sf0.001")
    res = dedup_pipeline(images, CFG)
    sizes = res.labels.groupBy("component").agg(F.count("*").alias("n_members"))
    return (
        res.labels.join(sizes, "component")
        .select("image_id", "component", "n_members")
        .orderBy("image_id")
    )


# ---------------------------------------------------------------------------
# gate queries
# ---------------------------------------------------------------------------

_EVENTS_DYN_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 90}},
}


def q_gate_events_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_gate(_events(spark, sf_dir), _EVENTS_DYN_SCHEMA, json_col="props")
    return out.select("event_id", "isvalid")


def q_gate_events_dynamic_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same dynamic gate verdict through `gate_filter` (the columnar
    screen with the exact walk behind it).  Verdict-only by contract, so
    the query returns the kept event_ids."""
    out = gate_filter(_events(spark, sf_dir), _EVENTS_DYN_SCHEMA, json_col="props")
    return out.select("event_id")


_EVENTS_COMPOUND_SCHEMA = {
    "type": "object",
    "required": ["tags", "meta"],
    "properties": {
        "tags": {
            "type": "array", "minItems": 1, "maxItems": 3,
            "items": {"type": "string", "minLength": 4},
        },
        "meta": {
            "type": "object",
            "required": ["w"],
            "properties": {"w": {"type": "integer", "minimum": 5, "maximum": 95}},
        },
    },
}


def q_gate_events_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic gate over synthesized array + one-level-nested JSON — the
    round-4 columnar-screen extension exercised at contract level.  The doc
    is built deterministically from typed columns via to_json so the DuckDB
    oracle can derive the verdict in pure SQL:
      tags: [event_type, "ab" | "tag<d>"]  — "ab" lane (user_id%4==0)
            fails items.minLength 4
      meta: absent when user_id%11==0 (required fails), else
            {"w": user_id%120} — w outside [5, 95] fails the nested bounds
    """
    ev = _events(spark, sf_dir)
    doc = F.to_json(
        F.struct(
            F.array(
                F.col("event_type"),
                F.when(F.pmod("user_id", F.lit(4)) == 0, F.lit("ab")).otherwise(
                    F.concat(F.lit("tag"), F.pmod("user_id", F.lit(5)).cast("string"))
                ),
            ).alias("tags"),
            F.when(
                F.pmod("user_id", F.lit(11)) != 0,
                F.struct(F.pmod("user_id", F.lit(120)).alias("w")),
            ).alias("meta"),
        )
    )
    out = apply_gate(
        ev.select("event_id", doc.alias("doc")),
        _EVENTS_COMPOUND_SCHEMA,
        json_col="doc",
    )
    return out.select("event_id", "isvalid")


_PART_SCHEMA = {
    "type": "object",
    "required": ["p_partkey", "p_name", "p_type", "p_size"],
    "properties": {
        "p_name": {"type": "string", "minLength": 5, "pattern": "^[a-z ]+$"},
        "p_retailprice": {"type": "number", "maximum": 990},
        "p_size": {"type": "integer", "minimum": 5, "maximum": 45},
        "p_type": {"enum": ["ECONOMY", "STANDARD", "PROMO", "MEDIUM"]},
    },
}


def q_gate_part_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_gate(_part(spark, sf_dir), _PART_SCHEMA)
    return out.select("p_partkey", "isvalid", F.col("issue.reason").alias("reason"))


_DOCS_SCHEMA = {
    "type": "object",
    "required": ["doc_id", "text"],
    "properties": {
        "lang": {"enum": ["en", "de", "fr", "es", "zh"]},
        "n_chars": {"type": "integer", "minimum": 50, "maximum": 520},
        "text": {"type": "string", "minLength": 60, "maxLength": 400},
    },
}


def q_gate_docs_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_gate(_docs(spark, sf_dir), _DOCS_SCHEMA)
    return out.select("doc_id", "isvalid", F.col("issue.reason").alias("reason"))


_EVENTS_ONEOF_SCHEMA = {
    "type": "object",
    "required": ["value"],
    "properties": {"value": {"oneOf": [{"maximum": 100}, {"minimum": 50}]}},
}


def q_gate_events_oneof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-level combinators are not native-compilable -> exercises the
    # residual to_json + dict-tree UDF backend on a typed table
    out = apply_gate(_events(spark, sf_dir), _EVENTS_ONEOF_SCHEMA)
    return out.select("event_id", "isvalid")


_EVENTS_IF_SCHEMA = {
    "type": "object",
    "required": ["event_type", "value"],
    "if": {"properties": {"event_type": {"const": "error"}}},
    "then": {"properties": {"value": {"maximum": 250}}},
    "else": {"properties": {"value": {"maximum": 450}}},
}


def q_gate_events_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_gate(_events(spark, sf_dir), _EVENTS_IF_SCHEMA)
    return out.select("event_id", "isvalid")


# Constructed-JSON gate queries: both engines build the SAME JSON text from
# integer event fields (no float formatting drift), our gate validates it in
# dynamic mode, and DuckDB mirrors the keyword semantics directly.

def _arr_json() -> F.Column:
    k = F.get_json_object("props", "$.k").cast("long")
    return F.concat(
        F.lit("["), k.cast("string"), F.lit(", "),
        (F.col("event_id") % 100).cast("string"), F.lit(", "),
        (F.col("user_id") % 100).cast("string"), F.lit("]"),
    )


_ARR_UNIQUE_SCHEMA = {
    "type": "array",
    "items": {"type": "integer", "minimum": 0, "maximum": 99},
    "minItems": 1,
    "maxItems": 3,
    "uniqueItems": True,
}


def q_gate_array_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("arr_json", _arr_json())
    out = apply_gate(ev, _ARR_UNIQUE_SCHEMA, json_col="arr_json")
    return out.select("event_id", "isvalid")


def q_gate_array_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("arr_json", _arr_json())
    out = apply_gate(ev, {"contains": {"minimum": 95}}, json_col="arr_json")
    return out.select("event_id", "isvalid")


def _obj_json() -> F.Column:
    k = F.get_json_object("props", "$.k").cast("long")
    return F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit('{"a": '), k.cast("string"), F.lit("}")),
    ).otherwise(
        F.concat(
            F.lit('{"a": '), k.cast("string"),
            F.lit(', "b": '), (F.col("event_id") % 10).cast("string"), F.lit("}"),
        )
    )


def q_gate_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("obj_json", _obj_json())
    schema = {"dependencies": {"b": {"properties": {"a": {"maximum": 25}}}}}
    out = apply_gate(ev, schema, json_col="obj_json")
    return out.select("event_id", "isvalid")


# One schema exercising every round-4 columnar-screen extension at once —
# union type lists, multipleOf, scalar-level oneOf, top-level anyOf and
# not — in dynamic mode (gate/columnar.py); the JSON is constructed from
# integer fields so DuckDB mirrors the keyword semantics exactly.
_COMBO_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {
        "k": {
            "type": ["integer", "null"],
            "multipleOf": 2,
            "oneOf": [{"maximum": 60}, {"minimum": 30}],
        },
        "tag": {"type": "string", "minLength": 5},
    },
    "anyOf": [
        {"required": ["tag"]},
        {"properties": {"k": {"minimum": 10}}},
    ],
    "not": {"properties": {"k": {"const": 44}}},
}


def q_gate_screened_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("long")
    obj = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit('{"k": '), k.cast("string"), F.lit("}")),
    ).otherwise(
        F.concat(
            F.lit('{"k": '), k.cast("string"),
            F.lit(', "tag": "'), F.col("event_type"), F.lit('"}'),
        )
    )
    ev = _events(spark, sf_dir).withColumn("obj_json", obj)
    out = apply_gate(ev, _COMBO_SCHEMA, json_col="obj_json")
    return out.select("event_id", "isvalid")


_STRICT_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 0}},
    "additionalProperties": False,
}


def q_gate_strict_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the strictest production intake shape: a closed record schema
    # (additionalProperties: false).  Odd events carry a stray key and must
    # reject; even events are clean.  Exercises the object-level extras
    # screen (gate/columnar.py): clean batches certify columnar-ly, stray
    # keys fast-reject without per-row Python.
    k = F.get_json_object("props", "$.k").cast("long")
    obj = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit('{"k": '), k.cast("string"), F.lit("}")),
    ).otherwise(
        F.concat(
            F.lit('{"k": '), k.cast("string"),
            F.lit(', "stray": '), (F.col("user_id") % 7).cast("string"),
            F.lit("}"),
        )
    )
    ev = _events(spark, sf_dir).withColumn("obj_json", obj)
    out = apply_gate(ev, _STRICT_SCHEMA, json_col="obj_json")
    return out.select("event_id", "isvalid")


def q_gate_property_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "obj_json", F.concat(F.lit('{"'), F.col("event_type"), F.lit('": 1}'))
    )
    schema = {"propertyNames": {"minLength": 5}, "patternProperties": {"^e": {"maximum": 0}}}
    out = apply_gate(ev, schema, json_col="obj_json")
    return out.select("event_id", "isvalid")


# Numeric keywords over the typed part table (native Column path):
# multipleOf (int divisor + fractional divisor with the reference's
# isapprox tolerance, src/validation.jl:530-533) and draft-6 numeric
# exclusive bounds (src/validation.jl:552-563, 593-604).
_PART_NUMERIC_SCHEMA = {
    "type": "object",
    "required": ["p_partkey", "p_size", "p_retailprice"],
    "properties": {
        "p_size": {"multipleOf": 5, "exclusiveMaximum": 50, "exclusiveMinimum": 1},
        "p_retailprice": {"multipleOf": 0.25},
    },
}


def q_gate_numeric_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_gate(_part(spark, sf_dir), _PART_NUMERIC_SCHEMA)
    return out.select("p_partkey", "isvalid")


# Draft-4 boolean exclusiveMaximum/Minimum: tightens the sibling bound to
# strict (src/validation.jl:565-576, 606-617); our compiler normalizes at
# compile time (SURVEY §4.1).
_PART_DRAFT4_SCHEMA = {
    "type": "object",
    "properties": {
        "p_size": {
            "minimum": 5, "exclusiveMinimum": True,
            "maximum": 45, "exclusiveMaximum": True,
        },
    },
}


def q_gate_exclusive_draft4(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_gate(_part(spark, sf_dir), _PART_DRAFT4_SCHEMA)
    return out.select("p_partkey", "isvalid")


# Combinators allOf/anyOf/not (src/validation.jl:143-186) over typed rows.
# NB `not` over a properties subschema fails rows where p_name is NULL
# (absent key => inner schema passes => not fails) — the oracle mirrors it.
_PART_COMBINATOR_SCHEMA = {
    "allOf": [
        {"properties": {"p_size": {"minimum": 5}}},
        {"anyOf": [
            {"properties": {"p_type": {"enum": ["PROMO", "ECONOMY"]}}},
            {"properties": {"p_retailprice": {"maximum": 500}}},
        ]},
        {"not": {"properties": {"p_name": {"pattern": "^a"}}}},
    ],
}


def q_gate_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = apply_gate(_part(spark, sf_dir), _PART_COMBINATOR_SCHEMA)
    return out.select("p_partkey", "isvalid")


# JSON type-lattice quirks (src/validation.jl:488-500): 12.0 IS an integer,
# true is NOT (Julia Bool<:Number / Python bool<:int trap).  Constructed
# instance cycles through k.0 / k.5 / true.
def q_gate_integer_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.col("event_id") % 3
    obj = (
        F.when(m == 0, F.concat(F.lit('{"x": '), k.cast("string"), F.lit(".0}")))
        .when(m == 1, F.concat(F.lit('{"x": '), k.cast("string"), F.lit(".5}")))
        .otherwise(F.lit('{"x": true}'))
    )
    ev = _events(spark, sf_dir).withColumn("obj_json", obj)
    out = apply_gate(ev, {"properties": {"x": {"type": "integer"}}}, json_col="obj_json")
    return out.select("event_id", "isvalid")


# Deep JSON equality for const/enum (src/validation.jl:117-136): arrays
# compare elementwise, 25 == 25.0 across int/float, but true != 1.
def q_gate_const_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("long")
    ev = _events(spark, sf_dir).withColumn(
        "obj_json", F.concat(F.lit('{"x": ['), k.cast("string"), F.lit(", 2]}"))
    )
    out = apply_gate(ev, {"properties": {"x": {"const": [25.0, 2]}}}, json_col="obj_json")
    return out.select("event_id", "isvalid")


def q_gate_enum_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("long")
    ev = _events(spark, sf_dir).withColumn(
        "obj_json", F.concat(F.lit('{"x": '), k.cast("string"), F.lit("}"))
    )
    schema = {"properties": {"x": {"enum": [10, "alpha", [1, 2], True]}}}
    out = apply_gate(ev, schema, json_col="obj_json")
    return out.select("event_id", "isvalid")


# minProperties/maxProperties (src/validation.jl:727-752) +
# additionalProperties-as-schema (src/validation.jl:406-426) over the
# constructed 1-or-2-key object.
def q_gate_props_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("obj_json", _obj_json())
    out = apply_gate(ev, {"minProperties": 2, "maxProperties": 3}, json_col="obj_json")
    return out.select("event_id", "isvalid")


def q_gate_additional_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("obj_json", _obj_json())
    schema = {
        "properties": {"a": {"minimum": 10}},
        "additionalProperties": {"maximum": 5},
    }
    out = apply_gate(ev, schema, json_col="obj_json")
    return out.select("event_id", "isvalid")


# ---------------------------------------------------------------------------
# dedup / text queries over documents
# ---------------------------------------------------------------------------

def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir)).select("fp", "canonical_id", "n_dups")


def q_doc_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup (applyInPandasWithState) drained once
    over the documents table — output contract equals batch exact_dedup, so
    the same oracle SQL fully value-checks the streaming state path."""
    from jsonschema_jl_spark.streaming.dedup import dedup_documents_once

    return dedup_documents_once(spark, sf_dir).select(
        "fp", "canonical_id", "n_dups"
    )


def q_doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", textops.token_count(F.col("text")).alias("n_tokens"))


def q_doc_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    c = F.col("text")
    return d.select(
        "doc_id",
        textops.token_count(c).alias("n_tokens"),
        F.round(textops.stopword_ratio(c), 6).alias("stop_ratio"),
        textops.quality_score(c).alias("quality"),
    )


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", textops.lang_id(F.col("text")).alias("lang_pred"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", textops.fingerprint(F.col("text")).alias("fp"))


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", textops.simhash64(F.col("text")).alias("simhash"))


def q_doc_shingle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    sigs = with_signatures(d, text_col="text", cfg=CFG)
    return sigs.select("doc_id", F.size("shingles").cast("long").alias("n_shingles"))


def q_doc_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_token_pairs(_docs(spark, sf_dir), n=3, anchor_cap=200).select(
        "src", "dst", "shared_ngrams"
    )


def q_doc_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every pair inside a (lang, length-band) group within 28 bits: the
    # group-pairs kernel uncapped, popcount-verified in the batch that
    # builds the pair.  A null id, key or hash never matches in the oracle's
    # self-join: the pack drops null ids and keys, and a null hash is
    # dropped here.
    d = _docs(spark, sf_dir)
    h = d.select(
        F.col("doc_id").alias("id"),
        "lang",
        (F.col("n_chars") / 50).cast("long").alias("lb"),
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("ph"),
    ).dropna(subset=["ph"])
    id_type = h.schema["id"].dataType
    return pair_groups(
        h, same_rows, ["lang", "lb"], block_emitter(28),
        T.StructType([
            T.StructField("src", id_type), T.StructField("dst", id_type),
            T.StructField("hamming", T.IntegerType()),
        ]),
        cap=NO_CAP,
    )


def q_doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    edges = (
        ngram_token_pairs(d, n=3, anchor_cap=200)
        .filter(F.col("shared_ngrams") >= 3)
        .select("src", "dst")
    )
    labels = connected_components(edges, vertices=d.select("doc_id"))
    return labels.select(F.col("id").alias("doc_id"), F.col("component"))


def q_doc_components_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P11 scale path: connected_components labels this edge set in one
    # Arrow task; here the large-star/small-star rounds it keeps for edge
    # sets over its task budget run directly, over the SAME edge set and
    # recursive-CTE oracle as doc_components — contract-level proof both
    # paths land on identical min-label assignments
    from jsonschema_jl_spark.operators.components import _star_components

    d = _docs(spark, sf_dir)
    edges = (
        ngram_token_pairs(d, n=3, anchor_cap=200)
        .filter(F.col("shared_ngrams") >= 3)
        .select("src", "dst")
    )
    labels = _star_components(edges, vertices=d.select("doc_id"))
    return labels.select(F.col("id").alias("doc_id"), F.col("component"))


_HOT_CAPTION = (
    "planted hot caption: one ubiquitous string shared by every fifth "
    "document so a single lsh bucket overflows the cap in every band"
)


def q_doc_skew_salted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 exact skew path at contract level: every 5th doc carries ONE
    identical caption (100+ copies at sf>=0.01 — far above bucket_cap=64,
    so plain capping would DROP the whole hot bucket), the rest carry
    md5-derived texts that are pairwise near-orthogonal (J ~ 0.01).  The
    pipeline is signatures -> banding -> candidate_pairs with NO_CAP
    (uncapped streamed pairing: the hot bucket pairs in its task, its pairs
    leaving in batches of at most PAIR_BUDGET) -> exact Jaccard verify.
    The flagship instead caps hot buckets and counts the dropped mass in
    accumulators.  The oracle is the closed-form truth: exactly the
    hot-doc pairs.  Passing proves (a) the uncapped path loses NO hot pairs
    where the capped path loses all of them, and (b) the verify kills every
    spurious band collision among the md5 texts."""
    from jsonschema_jl_spark.operators.lsh import band_buckets, candidate_pairs
    from jsonschema_jl_spark.operators.verify import verify_jaccard_text

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id").cast("string")
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(_HOT_CAPTION))
        .otherwise(
            F.concat_ws(
                " ",
                F.md5(did),
                F.md5(F.concat(did, F.lit("x"))),
                F.md5(F.concat(did, F.lit("y"))),
            )
        )
        .alias("txt"),
    )
    sigs = with_signatures(
        corpus, text_col="txt", cfg=CFG, keep_shingles=False, assume_normalized=True
    )
    buckets = band_buckets(sigs, id_col="doc_id", sig_col="minhash", cfg=CFG)
    pairs = candidate_pairs(buckets, dataclasses.replace(CFG, bucket_cap=NO_CAP))
    verified = verify_jaccard_text(
        pairs, corpus, id_col="doc_id", text_col="txt", cfg=CFG, assume_normalized=True
    )
    return verified.select(F.col("src").cast("long").alias("src"),
                           F.col("dst").cast("long").alias("dst"))


def _containment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus deterministic derived snippets (substr of every 7th
    normalized doc) so exact-substring containment has planted positives."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", textops.normalized_text(F.col("text")).alias("txt")
    )
    derived = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.substring("txt", 5, 80).alias("txt"),
    )
    return docs.unionByName(derived)


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P9 exact-substring containment via the sparse-anchor join (operator is
    # exact, so the DuckDB brute-force instr() oracle must agree pair-for-pair)
    from jsonschema_jl_spark.operators.substring import containment_pairs

    corpus = _containment_corpus(spark, sf_dir)
    return containment_pairs(
        corpus, id_col="doc_id", text_col="txt", cfg=CFG, assume_normalized=True
    ).select("src", "dst")


def q_doc_containment_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P9 reference-style distributed suffix-array kernel — must produce the
    # IDENTICAL pair set as the anchor join (same DuckDB oracle)
    from jsonschema_jl_spark.operators.substring import suffix_array_containment

    corpus = _containment_corpus(spark, sf_dir)
    out = suffix_array_containment(corpus, id_col="doc_id", text_col="txt", cfg=CFG)
    return out.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    dbl = emb.select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    queries = dbl.filter(F.col("vec_id") < 50)
    return cosine_topk(dbl, k=3, queries=queries).select(
        "query_id", "neighbor_id", "rank", "cos"
    )


def q_emb_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The driver embeddings are near-random (max pairwise cos ~0.5), so to
    # demonstrate recall the corpus is augmented with deterministic near-dup
    # copies (vec_id + 10^6, each coordinate nudged by a fixed small delta,
    # cos ~0.999); LSH at min_cos=0.95 must recover exactly those pairs.
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    near = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + (F.pmod(i, F.lit(7)) - F.lit(3.0)) * F.lit(1e-3)
        ).alias("embedding"),
    )
    return lsh_ann_pairs(
        emb.unionByName(near), dim=64, n_planes=10, n_tables=8, min_cos=0.95
    ).select("src", "dst")


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse-cell top-1 over the same augmented corpus as emb_ann_pairs:
    # each planted near-copy's nearest neighbor is its base vector
    # (cos ~0.9999 vs ~0.5 max between random vectors), and a near-identical
    # pair quantizes to the same argmax cell, so IVF@nprobe=2 recovers the
    # planted pair for EVERY query — an exact oracle for the approximate op.
    from jsonschema_jl_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    near = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + (F.pmod(i, F.lit(7)) - F.lit(3.0)) * F.lit(1e-3)
        ).alias("embedding"),
    )
    out = ivf_topk(emb.unionByName(near), k=1, n_cells=16, nprobe=2, queries=near)
    return out.select("query_id", "neighbor_id")


# ---------------------------------------------------------------------------
# image pipeline (rows-only: datagen + private minhash permutations)
# ---------------------------------------------------------------------------

def q_images_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = images_from_documents(spark, sf_dir)
    res = dedup_pipeline(images, CFG)
    return (
        res.labels.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .groupBy("n_members")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("n_members")
    )


def q_images_dedup_resumable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 at contract level: the SAME flagship clustering as
    images_dedup_clusters, computed by the same dedup_pipeline with its
    three materialization points (signatures, edges, labels) written as
    Iceberg-layout parquet stages with per-bucket manifests, each stage
    read back from its checkpoint by the next
    (io.checkpoint.resumable_pipeline) instead of held in the session.
    Shares images_dedup_clusters' oracle SQL — agreement proves the
    checkpoint round-trip preserves the clustering bit-for-bit.  The
    checkpoint root is wiped first so the run is deterministic."""
    import os
    import shutil
    import tempfile

    from jsonschema_jl_spark.io.checkpoint import CheckpointManager, resumable_pipeline

    images = images_from_documents(spark, sf_dir)
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg_ckpt_{CFG.config_hash()}_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    labels = resumable_pipeline(spark, images, CheckpointManager(root, CFG), CFG)
    return (
        labels.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .groupBy("n_members")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("n_members")
    )


def q_images_gate_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_jl_spark.operators.pipeline import IMAGES_GATE_SCHEMA

    images = images_from_documents(spark, sf_dir)
    out = apply_gate(images, IMAGES_GATE_SCHEMA)
    return (
        out.groupBy(F.col("issue.reason").alias("reason"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("reason").asc_nulls_first())
    )


def q_images_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: multimodal decode/feature kernel (DuckDB cannot decode PNG)
    from jsonschema_jl_spark.operators.multimodal import with_image_features

    images = images_from_documents(spark, sf_dir)
    return (
        with_image_features(images)
        .select("fmt", "img_features.*")
        .groupBy("fmt", "decode_ok")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("decoded_w"), 2).alias("avg_w"),
            F.round(F.avg("decoded_h"), 2).alias("avg_h"),
        )
        .orderBy("fmt", "decode_ok")
    )


_SIG_MOD = (1 << 61) - 1  # Mersenne modulus for the signature checksum


def q_doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked MinHash signatures: DuckDB recomputes the ENTIRE OPH
    math (poly rolling hash -> splitmix64 -> top-bit bins -> per-bin min ->
    rotation densification) in pure mod-2^64 SQL arithmetic (_OPH_ORACLE_SQL
    below).  Emitted per row: minhash0 (= densified bin 0: the band
    interleave in minhash._oph_signatures_flat maps signature slot 0 to
    bin 0) checks one slot bit-exactly; sig_modsum folds ALL CFG.num_perm
    slots mod 2^61-1, so any slot changing is caught with probability
    1 - 2^-61.  The signature values are signed-int64 reinterpretations of
    engine uint64s, hence the unsigned-residue arithmetic in the aggregate
    below."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    sigs = with_signatures(d, text_col="text", cfg=CFG)
    m = _SIG_MOD
    return sigs.select(
        "doc_id",
        F.size("minhash").alias("sig_len"),
        F.element_at("minhash", 1).alias("minhash0"),
        # unsigned residue of each slot: uint64(x) % m == (pmod(x, m) +
        # (2^64 % m when x reinterprets negative)) % m, with 2^64 % m == 8
        F.expr(
            f"aggregate(minhash, CAST(0 AS BIGINT), (acc, x) -> "
            f"CAST((acc + (pmod(x, {m}) + IF(x < 0, 8, 0)) % {m}) % {m} AS BIGINT))"
        ).alias("sig_modsum"),
    )


def q_images_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video lane end-to-end with a pure-SQL oracle: synthesize an
    uncompressed AVI per document row (1 + doc_id % 13 flat 8x8 frames,
    frame f filled with (doc_id*31 + f) % 256), run the REAL container
    demux + frame sampling (operators/avi.py via with_sampled_frames,
    every 4th frame re-encoded with the real PNG codec), then decode the
    kept frames back and checksum their pixels.  Every reported number is
    id arithmetic DuckDB mirrors exactly: a flat 8x8 frame of value v
    decodes to pixel sum 192*v, so px_sum proves mux -> demux -> PNG
    encode -> PNG decode round-tripped every sampled frame bit-exactly."""
    from jsonschema_jl_spark.operators.avi import avi_encode
    from jsonschema_jl_spark.operators.multimodal import png_decode, with_sampled_frames

    @F.pandas_udf("binary")
    def synth(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield ids.map(
                lambda i: avi_encode(
                    [
                        np.full((8, 8, 3), (int(i) * 31 + f) % 256, dtype=np.uint8)
                        for f in range(1 + int(i) % 13)
                    ],
                    fps=8,
                )
            )

    @F.pandas_udf("long")
    def px_sum(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for col in it:
            yield col.map(
                lambda frames: sum(int(png_decode(bytes(p)).sum()) for p in frames)
            )

    d = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .withColumn("fmt", F.lit("avi"))
        .withColumn("bytes", synth("doc_id"))
    )
    return with_sampled_frames(d, every_n=4).select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 13).cast("int").alias("n_frames"),
        F.size("sampled.frame_idx").alias("n_kept"),
        px_sum("sampled.frames").alias("px_sum"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio lane end-to-end with a pure-SQL oracle: synthesize a 16-bit
    PCM RIFF/WAVE per document row (alternating ±a square wave with
    a = (doc_id*37) % 1000 + 17 over 64 + (doc_id % 5)*16 samples), run
    the REAL chunk-walking decoder + feature kernel
    (operators/multimodal.py with_audio_features), and report the
    features.  The square wave makes every feature closed-form id
    arithmetic DuckDB mirrors exactly: |x| == a everywhere, so rms == a
    (a² is an exact float64 square, sqrt exact) and peak == a.  Rows
    with doc_id % 7 == 0 carry a fake compressed payload ('mp3' magic,
    not RIFF) to oracle the stubbed-codec lane: decode_ok=false,
    features null."""
    from jsonschema_jl_spark.operators.multimodal import wav_encode, with_audio_features

    @F.pandas_udf("binary")
    def synth(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        def one(i: int) -> bytes:
            if i % 7 == 0:
                return b"\xff\xfbFAKE-MP3-PAYLOAD"
            a = (i * 37) % 1000 + 17
            n = 64 + (i % 5) * 16
            wave = np.full(n, a, dtype=np.int16)
            wave[1::2] = -a
            return wav_encode(wave, sample_rate=16000, channels=1)

        for ids in it:
            yield ids.map(lambda i: one(int(i)))

    d = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .withColumn(
            "fmt", F.when(F.col("doc_id") % 7 == 0, F.lit("mp3")).otherwise(F.lit("wav"))
        )
        .withColumn("bytes", synth("doc_id"))
    )
    return with_audio_features(d).select(
        "doc_id",
        "fmt",
        F.col("audio_features.decode_ok").alias("decode_ok"),
        F.col("audio_features.sample_rate").alias("sample_rate"),
        F.col("audio_features.channels").alias("channels"),
        F.col("audio_features.n_samples").alias("n_samples"),
        F.col("audio_features.duration_s").alias("duration_s"),
        F.col("audio_features.rms").alias("rms"),
        F.col("audio_features.peak").alias("peak"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "gate_events_dynamic": q_gate_events_dynamic,
        "gate_events_dynamic_native": q_gate_events_dynamic_native,
        "gate_events_compound": q_gate_events_compound,
        "gate_part_typed": q_gate_part_typed,
        "gate_docs_typed": q_gate_docs_typed,
        "gate_events_oneof": q_gate_events_oneof,
        "gate_events_conditional": q_gate_events_conditional,
        "gate_array_unique": q_gate_array_unique,
        "gate_array_contains": q_gate_array_contains,
        "gate_dependencies": q_gate_dependencies,
        "gate_property_names": q_gate_property_names,
        "gate_screened_combo": q_gate_screened_combo,
        "gate_strict_intake": q_gate_strict_intake,
        "gate_numeric_bounds": q_gate_numeric_bounds,
        "gate_exclusive_draft4": q_gate_exclusive_draft4,
        "gate_combinators": q_gate_combinators,
        "gate_integer_lattice": q_gate_integer_lattice,
        "gate_const_deep": q_gate_const_deep,
        "gate_enum_mixed": q_gate_enum_mixed,
        "gate_props_count": q_gate_props_count,
        "gate_additional_props": q_gate_additional_props,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_streaming_dedup": q_doc_streaming_dedup,
        "doc_token_count": q_doc_token_count,
        "doc_text_features": q_doc_text_features,
        "doc_lang_id": q_doc_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_simhash": q_doc_simhash,
        "doc_shingle_count": q_doc_shingle_count,
        "doc_ngram_pairs": q_doc_ngram_pairs,
        "doc_hamming_pairs": q_doc_hamming_pairs,
        "doc_components": q_doc_components,
        "doc_components_twophase": q_doc_components_twophase,
        "doc_skew_salted_pairs": q_doc_skew_salted_pairs,
        "doc_containment": q_doc_containment,
        "doc_containment_sa": q_doc_containment_sa,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_ann_pairs": q_emb_ann_pairs,
        "emb_ivf_topk": q_emb_ivf_topk,
        "images_dedup_clusters": q_images_dedup_clusters,
        "images_dedup_resumable": q_images_dedup_resumable,
        "images_gate_breakdown": q_images_gate_breakdown,
        "images_features": q_images_features,
        "doc_minhash_signatures": q_doc_minhash_signatures,
        "images_frame_sample": q_images_frame_sample,
        "audio_features": q_audio_features,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_STOP_EN = "'the','and','of','to','a','in','is','that','it','for'"
_STOP_DE = "'der','die','und','das','ist','nicht','ein','mit','für','auf'"
_STOP_FR = "'le','la','et','les','des','est','une','dans','pour','que'"

_TOKC = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"

_HITS = {
    "en": f"CAST(len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ({_STOP_EN}))) AS DOUBLE)",
    "de": f"CAST(len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ({_STOP_DE}))) AS DOUBLE)",
    "fr": f"CAST(len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ({_STOP_FR}))) AS DOUBLE)",
}
_NTOK_NORM = f"CAST(len(string_split({_NORM_SQL}, ' ')) AS DOUBLE)"
_STOP_RATIO = f"({_HITS['en']} / greatest({_NTOK_NORM}, 1.0))"
_PUNCT = (
    "(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
    " / greatest(CAST(length(text) AS DOUBLE), 1.0))"
)
_QUALITY = (
    f"round((least(CAST({_TOKC} AS DOUBLE) / 20.0, 1.0)"
    f" + (1.0 - least({_PUNCT} * 4.0, 1.0))"
    f" + least({_STOP_RATIO} * 5.0, 1.0)) / 3.0, 6)"
)

_NGRAM_GRAMS = f"""
  WITH toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
  grams AS (
    SELECT doc_id, g FROM (
      SELECT doc_id,
             unnest(list_distinct([md5(array_to_string(t[i:i+2], ' '))
                                   for i in range(1, greatest(len(t)-2, 1)+1)])) AS g
      FROM toks)),
  sizes AS (SELECT g, count(*) AS cnt FROM grams GROUP BY g),
  ok AS (SELECT g FROM sizes WHERE cnt > 1 AND cnt <= 200),
  okgrams AS (SELECT doc_id, g FROM grams JOIN ok USING (g))
"""


# Full DuckDB mirror of the flagship dedup clustering over the derived
# images corpus (valid rows only — img7/bmp rows fail the gate enum):
# ALL detector edges computed exactly (all-pairs 5-char-shingle Jaccard >=
# tau, all-pairs phash Hamming <= 2, strict-substring containment with the
# engine's min_contained_len=16), recursive-CTE connected components, then
# the cluster-size histogram.  The engine's LSH banding (CFG: 256 perms,
# b=32, r=8),
# bucket caps, and pigeonhole blocks are all recall-lossless on this corpus
# — verified pair-for-pair at sf0.001 and sf0.01 (tools/cluster_oracle_dev.py:
# 245/245 and 238/238 identical edges), so the exact mirror IS the engine's
# expected output, accidental cross-document near-dups included.
_IMAGES_CLUSTERS_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, printf('img%012d', doc_id) AS image_id, text AS caption
  FROM documents),
imgs AS (
  SELECT image_id AS id, caption FROM base
  UNION ALL
  SELECT 'img9' || substr(image_id, 5, 11), caption FROM base WHERE doc_id % 7 = 0
  UNION ALL
  SELECT 'img8' || substr(image_id, 5, 11),
         substr(caption, strpos(caption, ' ') + 1)
  FROM base WHERE doc_id % 5 = 0),
norm AS (SELECT id, regexp_replace(trim(lower(caption)), '\\s+', ' ', 'g') AS txt FROM imgs),
sh AS (
  SELECT id, unnest(list_distinct(
           CASE WHEN length(txt) <= 5 THEN [txt]
                ELSE [substr(txt, i, 5) for i in range(1, length(txt) - 3)] END)) AS g
  FROM norm),
shsizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS u, b.id AS v, count(*) AS i
  FROM sh a JOIN sh b USING (g) WHERE a.id < b.id GROUP BY 1, 2),
jac AS (
  SELECT u, v FROM inter
  JOIN shsizes sa ON sa.id = u JOIN shsizes sb ON sb.id = v
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7),
ph AS (
  SELECT id, ph FROM (
    SELECT printf('img%012d', doc_id) AS id,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS ph FROM documents
    UNION ALL
    SELECT 'img9' || printf('%011d', doc_id % 100000000000),
           ('0x' || substr(md5(text), 1, 15))::BIGINT FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT 'img8' || printf('%011d', doc_id % 100000000000),
           ('0x' || substr(md5(text), 1, 15))::BIGINT + 1 FROM documents WHERE doc_id % 5 = 0)),
php AS (
  SELECT a.id AS u, b.id AS v FROM ph a JOIN ph b
    ON a.id < b.id AND bit_count(xor(a.ph, b.ph)) <= 2),
normf AS (SELECT id, txt FROM norm WHERE length(txt) >= 16),
cont AS (
  SELECT least(a.id, b.id) AS u, greatest(a.id, b.id) AS v
  FROM normf a JOIN normf b
    ON a.id != b.id AND length(a.txt) < length(b.txt)
  WHERE strpos(b.txt, a.txt) > 0),
e AS (SELECT u, v FROM jac UNION SELECT u, v FROM php UNION SELECT u, v FROM cont),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v != r.u),
comp AS (
  SELECT n.id, least(n.id, coalesce(min(r.v), n.id)) AS component
  FROM (SELECT id FROM imgs) n LEFT JOIN reach r ON r.u = n.id
  GROUP BY n.id),
csize AS (SELECT component, count(*) AS n_members FROM comp GROUP BY 1)
SELECT n_members, count(*) AS n_clusters FROM csize GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# doc_minhash_signatures oracle: the FULL OPH signature math in pure DuckDB
# mod-2^64 arithmetic, mirroring operators/minhash.py bit for bit:
#   poly rolling hash (_POLY_BASE, _shingle_flat_from_buffer: h = sum
#   byte[t]*B^t mod 2^64, sub-k texts zero-padded to one window)  ->  xor
#   seed, splitmix64 mix (_splitmix)  ->  bin = top log2(num_perm) bits,
#   val = splitmix(mixed)>>1  ->  per-(doc,bin) min  ->  rotation
#   densification (empty bin j borrows nearest filled bin at-or-right
#   cyclic, +0x9E37/hop), all in _oph_signatures_flat, whose closing band
#   interleave maps signature slot 0 to bin 0, so minhash0 = densified bin
#   0.  uint64s are carried as UBIGINT; multiplications split the constant
#   into 32-bit halves because a full 64x64 product overflows INT128.
# ---------------------------------------------------------------------------
_U64 = 1 << 64
_OPH_POWS = [pow(1099511628211, t, _U64) for t in range(5)]  # B^t mod 2^64


def _sql_mulc(a: str, c: int) -> str:
    """`a * c mod 2^64` for a UBIGINT expression and a uint64 constant."""
    bh, bl = c >> 32, c & 0xFFFFFFFF
    if not bh:
        return f"((({a})::HUGEINT * {bl}) % {_U64})::UBIGINT"
    return (
        f"((({a})::HUGEINT * {bl} + (((({a}) % 4294967296)::HUGEINT * {bh})"
        f" % 4294967296) * 4294967296) % {_U64})::UBIGINT"
    )


def _sql_splitmix(incol: str, pre: str, src: str) -> str:
    """CTE chain computing splitmix64({incol}) as column {pre}_v."""
    return f"""
{pre}_a AS (SELECT *, ((({incol})::HUGEINT + 11400714819323198485) % {_U64})::UBIGINT AS {pre}_z1 FROM {src}),
{pre}_b AS (SELECT *, {_sql_mulc(f"xor({pre}_z1, {pre}_z1 >> 30)", 0xBF58476D1CE4E5B9)} AS {pre}_z2 FROM {pre}_a),
{pre}_c AS (SELECT *, {_sql_mulc(f"xor({pre}_z2, {pre}_z2 >> 27)", 0x94D049BB133111EB)} AS {pre}_z3 FROM {pre}_b),
{pre}_o AS (SELECT *, xor({pre}_z3, {pre}_z3 >> 31) AS {pre}_v FROM {pre}_c)"""


def _oph_oracle_sql() -> str:
    # zero-padded byte t of window w (code points == UTF-8 bytes: corpus is
    # ASCII, asserted by the engine-side normalize being lower/trim-stable)
    def code(t: int) -> str:
        return f"(CASE WHEN length(w) > {t} THEN unicode(substr(w, {t + 1}, 1)) ELSE 0 END)"

    hexpr = " + ".join(f"{code(t)}::HUGEINT * {_OPH_POWS[t]}::HUGEINT" for t in range(5))
    m = _SIG_MOD
    P = CFG.num_perm  # OPH bin count; bin = top log2(P) bits of the mix
    shift = 64 - (P.bit_length() - 1)
    return f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
win AS (SELECT doc_id, unnest([substr(t, i, 5) for i in range(1, greatest(length(t) - 3, 2))]) AS w FROM n),
h AS (SELECT doc_id, xor((({hexpr}) % {_U64})::UBIGINT, {CFG.minhash_seed}::UBIGINT) AS z FROM win),
{_sql_splitmix('z', 'mx', 'h')},
{_sql_splitmix('mx_v', 'vv', 'mx_o')},
shing AS (SELECT doc_id, (mx_v >> {shift})::BIGINT AS bin, (vv_v >> 1) AS val FROM vv_o),
bins AS (SELECT doc_id, bin, min(val) AS mv FROM shing GROUP BY 1, 2),
grid AS (SELECT doc_id, unnest(range({P})) AS j FROM n),
nx AS (
  SELECT g.doc_id, g.j,
         coalesce(min(b.bin) FILTER (WHERE b.bin >= g.j), min(b.bin) + {P}) AS nxt
  FROM grid g JOIN bins b ON b.doc_id = g.doc_id
  GROUP BY 1, 2
),
dens AS (
  SELECT nx.doc_id, nx.j,
         (b.mv + (nx.nxt - nx.j)::UBIGINT * 40503::UBIGINT) AS dv
  FROM nx JOIN bins b ON b.doc_id = nx.doc_id AND b.bin = nx.nxt % {P}
)
SELECT doc_id,
       {P} AS sig_len,
       max(CASE WHEN j = 0 THEN
            CASE WHEN dv >= 9223372036854775808::UBIGINT
                 THEN (dv::HUGEINT - {_U64})::BIGINT ELSE dv::BIGINT END END) AS minhash0,
       (sum(dv::HUGEINT % {m}) % {m})::BIGINT AS sig_modsum
FROM dens GROUP BY doc_id
"""


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_dict()
    d["doc_components_twophase"] = d["doc_components"]
    return d


def _oracle_sql_dict() -> dict[str, str]:
    return {
        "gate_events_compound": """
          SELECT event_id,
                 (user_id % 11 <> 0
                  AND (user_id % 120) BETWEEN 5 AND 95
                  AND user_id % 4 <> 0
                  AND length(event_type) >= 4) AS isvalid
          FROM events
        """,
        "gate_events_dynamic": """
          SELECT event_id,
                 (json_extract(props, '$.k') IS NOT NULL
                  AND CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 10 AND 90) AS isvalid
          FROM events
        """,
        "gate_events_dynamic_native": """
          SELECT event_id
          FROM events
          WHERE json_extract(props, '$.k') IS NOT NULL
            AND CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 10 AND 90
        """,
        "gate_part_typed": """
          SELECT p_partkey,
                 CASE
                   WHEN p_partkey IS NULL OR p_name IS NULL OR p_type IS NULL OR p_size IS NULL THEN 'required'
                   WHEN p_name IS NOT NULL AND length(p_name) < 5 THEN 'minLength'
                   WHEN p_name IS NOT NULL AND NOT regexp_matches(p_name, '^[a-z ]+$') THEN 'pattern'
                   WHEN p_retailprice IS NOT NULL AND p_retailprice > 990 THEN 'maximum'
                   WHEN p_size IS NOT NULL AND p_size > 45 THEN 'maximum'
                   WHEN p_size IS NOT NULL AND p_size < 5 THEN 'minimum'
                   WHEN p_type IS NOT NULL AND p_type NOT IN ('ECONOMY','STANDARD','PROMO','MEDIUM') THEN 'enum'
                   ELSE NULL
                 END AS reason,
                 (CASE
                   WHEN p_partkey IS NULL OR p_name IS NULL OR p_type IS NULL OR p_size IS NULL THEN 'required'
                   WHEN p_name IS NOT NULL AND length(p_name) < 5 THEN 'minLength'
                   WHEN p_name IS NOT NULL AND NOT regexp_matches(p_name, '^[a-z ]+$') THEN 'pattern'
                   WHEN p_retailprice IS NOT NULL AND p_retailprice > 990 THEN 'maximum'
                   WHEN p_size IS NOT NULL AND p_size > 45 THEN 'maximum'
                   WHEN p_size IS NOT NULL AND p_size < 5 THEN 'minimum'
                   WHEN p_type IS NOT NULL AND p_type NOT IN ('ECONOMY','STANDARD','PROMO','MEDIUM') THEN 'enum'
                   ELSE NULL
                 END) IS NULL AS isvalid
          FROM part
        """,
        "gate_docs_typed": """
          SELECT doc_id,
                 CASE
                   WHEN doc_id IS NULL OR text IS NULL THEN 'required'
                   WHEN lang IS NOT NULL AND lang NOT IN ('en','de','fr','es','zh') THEN 'enum'
                   WHEN n_chars IS NOT NULL AND n_chars > 520 THEN 'maximum'
                   WHEN n_chars IS NOT NULL AND n_chars < 50 THEN 'minimum'
                   WHEN text IS NOT NULL AND length(text) > 400 THEN 'maxLength'
                   WHEN text IS NOT NULL AND length(text) < 60 THEN 'minLength'
                   ELSE NULL
                 END AS reason,
                 (CASE
                   WHEN doc_id IS NULL OR text IS NULL THEN 'x'
                   WHEN lang IS NOT NULL AND lang NOT IN ('en','de','fr','es','zh') THEN 'x'
                   WHEN n_chars IS NOT NULL AND (n_chars > 520 OR n_chars < 50) THEN 'x'
                   WHEN text IS NOT NULL AND (length(text) > 400 OR length(text) < 60) THEN 'x'
                   ELSE NULL
                 END) IS NULL AS isvalid
          FROM documents
        """,
        "gate_events_oneof": """
          SELECT event_id,
                 ((value <= 100) != (value >= 50)) AS isvalid
          FROM events
        """,
        "gate_events_conditional": """
          SELECT event_id,
                 CASE WHEN event_type = 'error' THEN value <= 250 ELSE value <= 450 END AS isvalid
          FROM events
        """,
        "gate_array_unique": """
          WITH a AS (SELECT event_id,
                            CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                            event_id % 100 AS e, user_id % 100 AS u
                     FROM events)
          SELECT event_id, (k != e AND k != u AND e != u) AS isvalid FROM a
        """,
        "gate_array_contains": """
          WITH a AS (SELECT event_id,
                            CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                            event_id % 100 AS e, user_id % 100 AS u
                     FROM events)
          SELECT event_id, (k >= 95 OR e >= 95 OR u >= 95) AS isvalid FROM a
        """,
        "gate_dependencies": """
          SELECT event_id,
                 (event_id % 2 = 0 OR CAST(json_extract(props, '$.k') AS BIGINT) <= 25) AS isvalid
          FROM events
        """,
        "gate_property_names": """
          SELECT event_id,
                 (length(event_type) >= 5 AND NOT starts_with(event_type, 'e')) AS isvalid
          FROM events
        """,
        "gate_strict_intake": """
          SELECT event_id,
                 (event_id % 2 = 0
                  AND CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
                  AND CAST(json_extract(props, '$.k') AS BIGINT) >= 0
                 ) AS isvalid
          FROM events
        """,
        "gate_screened_combo": """
          WITH a AS (SELECT event_id,
                            CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                            event_type AS tag
                     FROM events)
          SELECT event_id,
                 (k IS NOT NULL
                  AND k % 2 = 0
                  AND ((k <= 60) != (k >= 30))
                  AND k != 44
                  AND (CASE WHEN event_id % 2 = 0
                            THEN k >= 10 ELSE length(tag) >= 5 END)
                 ) AS isvalid
          FROM a
        """,
        # multipleOf tolerance mirrors the reference's isapprox(y, round(y))
        # with rel_tol = sqrt(eps) (src/validation.jl:530-533)
        "gate_numeric_bounds": """
          SELECT p_partkey,
                 (p_partkey IS NOT NULL AND p_size IS NOT NULL AND p_retailprice IS NOT NULL
                  AND p_size % 5 = 0 AND p_size < 50 AND p_size > 1
                  AND abs(p_retailprice / 0.25 - round(p_retailprice / 0.25))
                      <= 1.4901161193847656e-08
                         * greatest(abs(p_retailprice / 0.25), abs(round(p_retailprice / 0.25)))
                 ) AS isvalid
          FROM part
        """,
        "gate_exclusive_draft4": """
          SELECT p_partkey,
                 (p_size IS NULL OR (p_size > 5 AND p_size < 45)) AS isvalid
          FROM part
        """,
        "gate_combinators": """
          SELECT p_partkey,
                 ((p_size IS NULL OR p_size >= 5)
                  AND ((p_type IS NULL OR p_type IN ('PROMO','ECONOMY'))
                       OR (p_retailprice IS NULL OR p_retailprice <= 500))
                  AND NOT (p_name IS NULL OR regexp_matches(p_name, '^a'))
                 ) AS isvalid
          FROM part
        """,
        "gate_integer_lattice": """
          SELECT event_id, (event_id % 3 = 0) AS isvalid FROM events
        """,
        "gate_const_deep": """
          SELECT event_id,
                 (CAST(json_extract(props, '$.k') AS BIGINT) = 25) AS isvalid
          FROM events
        """,
        "gate_enum_mixed": """
          SELECT event_id,
                 (CAST(json_extract(props, '$.k') AS BIGINT) = 10) AS isvalid
          FROM events
        """,
        "gate_props_count": """
          SELECT event_id, (event_id % 2 = 1) AS isvalid FROM events
        """,
        "gate_additional_props": """
          SELECT event_id,
                 (CAST(json_extract(props, '$.k') AS BIGINT) >= 10
                  AND (event_id % 2 = 0 OR event_id % 10 <= 5)) AS isvalid
          FROM events
        """,
        "doc_exact_dedup": f"""
          SELECT md5({_NORM_SQL}) AS fp, min(doc_id) AS canonical_id, count(*) AS n_dups
          FROM documents GROUP BY 1
        """,
        "doc_streaming_dedup": f"""
          SELECT md5({_NORM_SQL}) AS fp, min(doc_id) AS canonical_id, count(*) AS n_dups
          FROM documents GROUP BY 1
        """,
        "doc_token_count": f"SELECT doc_id, {_TOKC} AS n_tokens FROM documents",
        "doc_text_features": f"""
          SELECT doc_id, {_TOKC} AS n_tokens,
                 round({_STOP_RATIO}, 6) AS stop_ratio,
                 {_QUALITY} AS quality
          FROM documents
        """,
        "doc_lang_id": f"""
          SELECT doc_id, lang,
                 CASE
                   WHEN greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']}) = 0 THEN 'unknown'
                   WHEN {_HITS['en']} = greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']})
                        AND {_HITS['de']} < {_HITS['en']} AND {_HITS['fr']} < {_HITS['en']} THEN 'en'
                   WHEN {_HITS['de']} = greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']})
                        AND {_HITS['en']} < {_HITS['de']} AND {_HITS['fr']} < {_HITS['de']} THEN 'de'
                   WHEN {_HITS['fr']} = greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']})
                        AND {_HITS['en']} < {_HITS['fr']} AND {_HITS['de']} < {_HITS['fr']} THEN 'fr'
                   ELSE 'unknown'
                 END AS lang_pred
          FROM documents
        """,
        "doc_fingerprint": f"SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents",
        "doc_simhash": f"""
          WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split({_NORM_SQL}, ' '))) AS t FROM documents),
          th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
          bits AS (SELECT doc_id, b,
                          CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                               THEN (1::BIGINT << b) ELSE 0 END AS bit
                   FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b)
          SELECT doc_id, sum(bit)::BIGINT AS simhash FROM bits GROUP BY doc_id
        """,
        "doc_shingle_count": f"""
          WITH n AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
          SELECT doc_id,
                 CASE WHEN length(t) <= 5 THEN 1
                      ELSE len(list_distinct([substr(t, i, 5) for i in range(1, length(t)-3)]))
                 END::BIGINT AS n_shingles
          FROM n
        """,
        "doc_minhash_signatures": _oph_oracle_sql(),
        "doc_ngram_pairs": f"""
          {_NGRAM_GRAMS}
          SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS shared_ngrams
          FROM okgrams a JOIN okgrams b USING (g)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        """,
        "doc_hamming_pairs": """
          WITH h AS (SELECT doc_id, lang, n_chars // 50 AS lb,
                            ('0x' || substr(md5(text), 1, 15))::BIGINT AS ph
                     FROM documents)
          SELECT a.doc_id AS src, b.doc_id AS dst,
                 bit_count(xor(a.ph, b.ph)) AS hamming
          FROM h a JOIN h b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.ph, b.ph)) <= 28
        """,
        "doc_components": f"""
          {_NGRAM_GRAMS.replace("WITH toks", "WITH RECURSIVE toks", 1)},
          pairs AS (
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM okgrams a JOIN okgrams b USING (g)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 3),
          sym AS (SELECT src AS u, dst AS v FROM pairs UNION SELECT dst, src FROM pairs),
          reach AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.u, e.v FROM reach r JOIN sym e ON r.v = e.u WHERE e.v != r.u
          )
          SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS component
          FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
          GROUP BY d.doc_id
        """,
        # doc_components_twophase: same SQL as doc_components (patched in
        # oracle_sql() above — the star path must land on the identical
        # min-label assignment)
        "doc_skew_salted_pairs": """
          WITH hot AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
          SELECT a.doc_id AS src, b.doc_id AS dst
          FROM hot a JOIN hot b ON a.doc_id < b.doc_id
        """,
        "doc_containment": f"""
          WITH n AS (SELECT doc_id, {_NORM_SQL} AS txt FROM documents),
          corpus AS (
            SELECT doc_id AS id, txt FROM n
            UNION ALL
            SELECT doc_id + 10000000, substr(txt, 5, 80) FROM n WHERE doc_id % 7 = 0),
          base AS (SELECT id, txt FROM corpus WHERE length(txt) >= 16)
          SELECT a.id AS src, b.id AS dst
          FROM base a JOIN base b
            ON a.id != b.id AND length(a.txt) < length(b.txt)
          WHERE strpos(b.txt, a.txt) > 0
        """,
        "doc_containment_sa": f"""
          WITH n AS (SELECT doc_id, {_NORM_SQL} AS txt FROM documents),
          corpus AS (
            SELECT doc_id AS id, txt FROM n
            UNION ALL
            SELECT doc_id + 10000000, substr(txt, 5, 80) FROM n WHERE doc_id % 7 = 0),
          base AS (SELECT id, txt FROM corpus WHERE length(txt) >= 16)
          SELECT a.id AS src, b.id AS dst
          FROM base a JOIN base b
            ON a.id != b.id AND length(a.txt) < length(b.txt)
          WHERE strpos(b.txt, a.txt) > 0
        """,
        "emb_cosine_topk": """
          WITH e AS (SELECT vec_id, embedding FROM embeddings),
          idx AS (SELECT unnest(range(64)) AS i),
          dots AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   sum(CAST(q.embedding[i.i + 1] AS DOUBLE) * CAST(c.embedding[i.i + 1] AS DOUBLE)) AS dot,
                   sqrt(sum(CAST(q.embedding[i.i + 1] AS DOUBLE) * CAST(q.embedding[i.i + 1] AS DOUBLE))) AS qn,
                   sqrt(sum(CAST(c.embedding[i.i + 1] AS DOUBLE) * CAST(c.embedding[i.i + 1] AS DOUBLE))) AS cn
            FROM e q, e c, idx i
            WHERE q.vec_id < 50 AND q.vec_id != c.vec_id
            GROUP BY 1, 2),
          scored AS (
            SELECT query_id, neighbor_id, round(dot / (qn * cn), 6) AS cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(dot / (qn * cn), 6) DESC, neighbor_id) AS rank
            FROM dots)
          SELECT query_id, neighbor_id, rank, cos FROM scored WHERE rank <= 3
        """,
        # LSH-ANN at cos>=0.95 over the augmented corpus: the only pairs
        # above threshold are the planted (v, v+1e6) near-copies (base
        # corpus max pairwise cos ~0.5, verified exactly by the engine);
        # 10-plane x 8-table hyperplane LSH misses a cos~0.999 pair with
        # probability ~1e-7, so the engine's verified output IS the planted
        # set — making the approximate operator exactly oracle-checkable.
        "emb_ann_pairs": """
          SELECT vec_id AS src, vec_id + 1000000 AS dst FROM embeddings
        """,
        # IVF top-1 on the augmented corpus recovers exactly the planted
        # near-copy pairs (see q_emb_ivf_topk for why this is deterministic)
        "emb_ivf_topk": """
          SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id FROM embeddings
        """,
        # images_from_documents is pure SQL over `documents`; the gate's
        # first-failure reason per row follows the documented keyword order
        # (properties in schema order; within a property maxLength before
        # minLength — validator._KEYWORD_ORDER), re-expressed as one CASE.
        "images_gate_breakdown": """
          WITH base AS (
            SELECT printf('img%012d', doc_id) AS image_id,
                   CAST(32 + doc_id % 33 AS INT) AS w,
                   CAST(32 + (doc_id * 7) % 33 AS INT) AS h,
                   (['png','jpeg','webp'])[CAST(doc_id % 3 AS INT) + 1] AS fmt,
                   text AS caption
            FROM documents),
          imgs AS (
            SELECT image_id, w, h, fmt, caption FROM base
            UNION ALL
            SELECT 'img9' || substr(image_id, 5, 11), w, h, fmt, caption
            FROM base WHERE CAST(substr(image_id, 4) AS BIGINT) % 7 = 0
            UNION ALL
            SELECT 'img8' || substr(image_id, 5, 11), w, h, fmt,
                   substr(caption, strpos(caption, ' ') + 1)
            FROM base WHERE CAST(substr(image_id, 4) AS BIGINT) % 5 = 0
            UNION ALL
            SELECT 'img7' || substr(image_id, 5, 11), w, h, 'bmp', caption
            FROM base WHERE CAST(substr(image_id, 4) AS BIGINT) % 11 = 0),
          reasons AS (
            SELECT CASE
              WHEN NOT regexp_matches(image_id, '^img[0-9]{12}$') THEN 'pattern'
              WHEN w > 65535 THEN 'maximum'
              WHEN w < 1 THEN 'minimum'
              WHEN h > 65535 THEN 'maximum'
              WHEN h < 1 THEN 'minimum'
              WHEN fmt NOT IN ('png','jpeg','webp') THEN 'enum'
              WHEN length(caption) > 2048 THEN 'maxLength'
              WHEN length(caption) < 3 THEN 'minLength'
            END AS reason FROM imgs)
          SELECT reason, count(*) AS n FROM reasons GROUP BY reason
        """,
        "images_dedup_clusters": _IMAGES_CLUSTERS_SQL,
        "images_dedup_resumable": _IMAGES_CLUSTERS_SQL,
        # images_from_documents payloads: real PNG iff the BASE doc has
        # fmt=png (doc_id % 3 == 0), real baseline JPEG iff fmt=jpeg
        # (doc_id % 3 == 1, pure-numpy codec), real lossless-WebP VP8L iff
        # fmt=webp (doc_id % 3 == 2) EXCEPT the lossy-VP8 stub sub-lane
        # (doc_id % 9 == 2, decoder refuses: libwebp absent); dup/malformed
        # rows copy base bytes, so decode_ok is a pure function of the base
        # doc_id, and decoded dims equal the stated w/h (codecs encode at
        # exactly that size; the JPEG decoder crops its 8x8 padding back).
        "images_features": """
          WITH base AS (
            SELECT doc_id,
                   CAST(32 + doc_id % 33 AS INT) AS w,
                   CAST(32 + (doc_id * 7) % 33 AS INT) AS h,
                   (['png','jpeg','webp'])[CAST(doc_id % 3 AS INT) + 1] AS fmt,
                   doc_id % 9 <> 2 AS ok
            FROM documents),
          imgs AS (
            SELECT w, h, fmt, ok FROM base
            UNION ALL SELECT w, h, fmt, ok FROM base WHERE doc_id % 7 = 0
            UNION ALL SELECT w, h, fmt, ok FROM base WHERE doc_id % 5 = 0
            UNION ALL SELECT w, h, 'bmp', ok FROM base WHERE doc_id % 11 = 0)
          SELECT fmt, ok AS decode_ok, count(*) AS n,
                 CASE WHEN ok THEN round(avg(w), 2) END AS avg_w,
                 CASE WHEN ok THEN round(avg(h), 2) END AS avg_h
          FROM imgs GROUP BY fmt, ok ORDER BY fmt, ok
        """,
        # mirror of q_images_frame_sample's id arithmetic: a flat 8x8 frame
        # of value v has pixel sum 8*8*3*v = 192*v; frames kept are
        # f in {0,4,8,12} with f < n_frames (every_n=4)
        "images_frame_sample": """
          SELECT doc_id,
                 CAST(1 + doc_id % 13 AS INT) AS n_frames,
                 CAST(len([f FOR f IN [0, 4, 8, 12] IF f < 1 + doc_id % 13]) AS INT)
                   AS n_kept,
                 CAST(list_sum([192 * ((doc_id * 31 + f) % 256)
                                FOR f IN [0, 4, 8, 12] IF f < 1 + doc_id % 13])
                      AS BIGINT) AS px_sum
          FROM documents
        """,
        # mirror of q_audio_features' square-wave arithmetic: alternating
        # ±a has |x| == a everywhere, so rms == peak == a exactly
        "audio_features": """
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN 'mp3' ELSE 'wav' END AS fmt,
                 doc_id % 7 <> 0 AS decode_ok,
                 CASE WHEN doc_id % 7 <> 0 THEN 16000 END AS sample_rate,
                 CASE WHEN doc_id % 7 <> 0 THEN 1 END AS channels,
                 CASE WHEN doc_id % 7 <> 0
                      THEN CAST(64 + (doc_id % 5) * 16 AS INT) END AS n_samples,
                 CASE WHEN doc_id % 7 <> 0
                      THEN (64 + (doc_id % 5) * 16) / 16000.0 END AS duration_s,
                 CASE WHEN doc_id % 7 <> 0
                      THEN CAST((doc_id * 37) % 1000 + 17 AS DOUBLE) END AS rms,
                 CASE WHEN doc_id % 7 <> 0
                      THEN CAST((doc_id * 37) % 1000 + 17 AS INT) END AS peak
          FROM documents
        """,
    }


if __name__ == "__main__":
    from jsonschema_jl_spark.session import get_spark

    spark = get_spark(cores=8, extra_conf={"spark.driver.memory": "8g"})
    df = entry(spark)
    df.show(20, truncate=False)
    print("rows:", df.count())
    spark.stop()
