"""Gate conformance: suite-format fixtures through BOTH backends.

Mirrors the reference's test strategy (reference test/runtests.jl:146-158:
assert isvalid(schema, data) == valid for every case of every group), plus
the vectorization-parity check the north star demands: each case replicated
into a multi-row DataFrame shuffled among decoys must produce identical
per-row verdicts (FIXTURES.md §4).
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from jsonschema_jl_spark.gate import Schema, is_valid, validate, diagnose
from jsonschema_jl_spark.gate.gate import apply_gate, gate_filter

_FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")

GROUPS = []
for _name in ("suite_cases.json", "suite_cases_extra.json"):
    with open(os.path.join(_FIXTURE_DIR, _name), encoding="utf-8") as fh:
        GROUPS.extend(json.load(fh))

CASES = [
    pytest.param(
        g["schema"],
        t["data"],
        t["valid"],
        id=f"{g['description']} | {t['description']}",
    )
    for g in GROUPS
    for t in g["tests"]
]


@pytest.mark.parametrize(("schema", "data", "valid"), CASES)
def test_single_instance(schema, data, valid):
    s = Schema(schema)
    assert is_valid(s, data) == valid, diagnose(data, s)


def test_issue_shape():
    s = Schema({"required": ["foo"]})
    issue = validate(s, {"bar": 1})
    assert issue is not None
    assert issue.path == ""
    assert issue.reason == "required"
    assert issue.val == ["foo"]
    text = str(issue)
    assert "Validation failed:" in text and "top-level" in text


def test_spark_batch_parity(spark):
    """All fixture cases at once through the dynamic-mode pandas-UDF gate,
    one DataFrame per schema group, rows shuffled among the group's cases —
    the vectorized verdicts must equal the single-row verdicts."""
    mismatches = []
    kept_mismatches = []
    for gi, g in enumerate(GROUPS):
        schema = g["schema"]
        rows = [
            (i, json.dumps(t["data"]), t["valid"])
            for i, t in enumerate(g["tests"])
        ]
        # replicate each row 3x to exercise batching
        rows = rows * 3
        df = spark.createDataFrame(rows, "case_id int, data_json string, expected boolean").repartition(3)
        out = (
            apply_gate(df, schema, json_col="data_json")
            .select("case_id", "expected", "isvalid")
            .collect()
        )
        for r in out:
            if r.isvalid != r.expected:
                mismatches.append((g["description"], g["tests"][r.case_id]["description"], r.expected, r.isvalid))
        # the verdict-only screen (gate_filter) keeps exactly the valid cases
        kept = sorted(r.case_id for r in gate_filter(df, schema, json_col="data_json").collect())
        expected = sorted(i for i, _, v in rows if v)
        if kept != expected:
            kept_mismatches.append((g["description"], kept, expected))
    assert not mismatches, mismatches
    assert not kept_mismatches, kept_mismatches


def test_typed_native_matches_dynamic(spark):
    """The native Column backend and the pandas-UDF backend agree on a typed
    table with planted violations."""
    schema = {
        "type": "object",
        "required": ["image_id", "w", "h", "fmt", "caption", "phash"],
        "properties": {
            "image_id": {"type": "string", "pattern": "^img[0-9]{12}$"},
            "w": {"type": "integer", "minimum": 1, "maximum": 65535},
            "h": {"type": "integer", "minimum": 1, "maximum": 65535},
            "fmt": {"enum": ["png", "jpeg", "webp"]},
            "caption": {"type": "string", "minLength": 3, "maxLength": 2048},
            "phash": {"type": "integer"},
        },
    }
    rows = [
        ("img000000000001", 10, 10, "png", "a cat sits", 1),
        ("nope", 10, 10, "png", "a cat sits", 1),
        ("img000000000002", 0, 10, "png", "a cat sits", 1),
        ("img000000000003", 10, 70000, "png", "a cat sits", 1),
        ("img000000000004", 10, 10, "bmp", "a cat sits", 1),
        ("img000000000005", 10, 10, "png", None, 1),
        ("img000000000006", 10, 10, "png", "ab", 1),
        (None, 10, 10, "png", "a cat sits", 1),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w int, h int, fmt string, caption string, phash long"
    )
    native = apply_gate(df, schema).select("image_id", "isvalid", "issue.reason")
    # force the dynamic path by going through to_json on the same rows
    dyn_df = df.withColumn("row_json", F.to_json(F.struct(*df.columns)))
    dynamic = apply_gate(dyn_df, schema, json_col="row_json").select(
        "image_id", F.col("isvalid").alias("isvalid_dyn"), F.col("issue.reason").alias("reason_dyn")
    )
    joined = native.join(dynamic, on=[native.image_id.eqNullSafe(dynamic.image_id)], how="inner").collect()
    assert len(joined) == len(rows)
    for r in joined:
        assert r.isvalid == r.isvalid_dyn, r
        assert r.reason == r.reason_dyn, r


def test_native_plan_has_no_python(spark):
    """Native gate compiles to pure Catalyst expressions — the physical plan
    must not contain a Python evaluation node."""
    schema = {
        "type": "object",
        "required": ["fmt"],
        "properties": {"fmt": {"enum": ["png", "jpeg"]}, "w": {"minimum": 1, "type": "integer"}},
    }
    df = spark.createDataFrame([("png", 2)], "fmt string, w int")
    out = apply_gate(df, schema)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_gate_filter_prefilter_pushdown(spark, tmp_path):
    """gate_filter on a native schema pushes comparisons into the parquet
    scan (PushedFilters visible in the plan)."""
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [("a", 5), ("b", -1), (None, 3)], "name string, v int"
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    schema = {"type": "object", "required": ["name", "v"], "properties": {"v": {"minimum": 0, "type": "integer"}}}
    out = gate_filter(df, schema)
    assert out.count() == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan


# ---------------------------------------------------------------------------
# verdict-only screen (gate_filter) vs the exact walk (apply_gate) over
# corner corpora: duplicate keys, huge integers, non-object documents,
# keyword and combinator zoos, and a seeded fuzz corpus
# ---------------------------------------------------------------------------

FLAT = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 90}},
}

CORNER_DOCS = [
    '{"k": 50}', '{"k": 9}', '{"k": 91}', '{"k": 10}', '{"k": 90}',
    '{"k": 50.0}', '{"k": 50.5}', '{"k": true}', '{"k": "50"}',
    '{"k": null}', "{}", '{"k": [50]}', '{"k": {"x": 50}}',
    '{"k": 50, "extra": 1}', '{"k": 1e400}', '{"k": -0.0}',
    '{"k": 50, "k": 9}', '{"k": 9, "k": 50}',       # dup keys: last wins
    "not json", "", "   ", "null", "true", "3.14", '"str"', "[1,2]",
    None,
    '{"k": 9007199254740993}',                        # 2^53+1
    '{"k": 9007199254740994.0}',
]

_NON_OBJECTS = ("null", "true", "3.14", '"str"', "[1,2]", None)

KEYWORD_ZOO = {
    "type": "object",
    "required": ["name"],
    "properties": {
        "name": {"type": "string", "minLength": 2, "maxLength": 6,
                 "pattern": "^[a-z ]+$"},
        "n": {"type": ["integer", "null"], "multipleOf": 3},
        "mode": {"enum": ["a", "b", 2, True, None]},
        "score": {"exclusiveMinimum": 0, "exclusiveMaximum": 1},
        "flag": {"const": False},
    },
}
KEYWORD_ZOO_DOCS = [
    '{"name": "ab"}', '{"name": "a"}', '{"name": "abcdefg"}',
    '{"name": "AB"}', '{"name": "ab", "n": 9}', '{"name": "ab", "n": 9.0}',
    '{"name": "ab", "n": 10}', '{"name": "ab", "n": null}',
    '{"name": "ab", "n": 9.3}', '{"name": "ab", "n": "9"}',
    '{"name": "ab", "mode": "a"}', '{"name": "ab", "mode": "c"}',
    '{"name": "ab", "mode": 2}', '{"name": "ab", "mode": 2.0}',
    '{"name": "ab", "mode": true}', '{"name": "ab", "mode": false}',
    '{"name": "ab", "mode": null}', '{"name": "ab", "mode": 1}',
    '{"name": "ab", "score": 0.5}', '{"name": "ab", "score": 0}',
    '{"name": "ab", "score": 1}', '{"name": "ab", "score": "x"}',
    '{"name": "ab", "flag": false}', '{"name": "ab", "flag": true}',
    '{"name": "ab", "flag": 0}', '{"name": 5}', '{"name": null}', "{}",
    '{"name": "café"}',
]

COMBINATORS = {
    "type": "object",
    "properties": {
        "v": {"anyOf": [{"type": "string", "minLength": 3},
                        {"type": "integer", "minimum": 100}]},
        "w": {"oneOf": [{"type": "number", "minimum": 0},
                        {"type": "number", "maximum": 0}]},
        "x": {"not": {"type": "boolean"}},
        "y": {"if": {"type": "integer"}, "then": {"minimum": 5},
              "else": {"type": "string"}},
    },
}
COMBINATOR_DOCS = [
    '{"v": "abc"}', '{"v": "ab"}', '{"v": 100}', '{"v": 99}',
    '{"v": true}', '{"v": null}',
    '{"w": 5}', '{"w": -5}', '{"w": 0}',       # 0 matches BOTH -> oneOf fails
    '{"w": "z"}',                               # matches neither
    '{"x": true}', '{"x": 5}', '{"x": "s"}',
    '{"y": 7}', '{"y": 3}', '{"y": "s"}', '{"y": 3.3}', '{"y": true}',
    "{}",
]

TOP_COMBINATORS = {
    "type": "object",
    "required": ["k"],
    "properties": {
        "k": {"type": ["integer", "null"], "multipleOf": 2,
              "oneOf": [{"maximum": 60}, {"minimum": 30}]},
        "tag": {"type": "string", "minLength": 5},
    },
    "anyOf": [
        {"required": ["tag"]},
        {"properties": {"k": {"minimum": 10}}},
    ],
    "not": {"properties": {"k": {"const": 44}}},
}
TOP_COMBINATOR_DOCS = [
    '{"k": 20}', '{"k": 44}', '{"k": 40}', '{"k": 21}', '{"k": 8}',
    '{"k": 62}', '{"k": 30}', '{"k": 50, "tag": "abcde"}',
    '{"k": 4, "tag": "abcde"}', '{"k": 4, "tag": "abc"}',
    '{"k": null}', '{"k": null, "tag": "abcde"}', "{}",
    '{"tag": "abcde"}', '{"k": 44, "tag": "abcde"}', "null", "true",
    '{"k": 50.0}', '{"k": 1e400}', None, "not json",
]

TOP_ITE = {
    "type": "object",
    "if": {"required": ["a"]},
    "then": {"properties": {"b": {"type": "integer"}}},
    "else": {"required": ["c"]},
}
TOP_ITE_DOCS = [
    '{"a": 1, "b": 2}', '{"a": 1, "b": "x"}', '{"a": 1}',
    '{"b": "x", "c": 1}', '{"b": "x"}', '{"c": 1}', "{}",
    '{"a": null, "b": 2.5}', "[1]", "null",
]

FUZZ = {
    "type": "object",
    "required": ["a"],
    "properties": {
        "a": {"type": ["integer", "string"], "minimum": -5, "maximum": 5,
              "minLength": 1, "maxLength": 3},
        "b": {"enum": [0, "0", False, None, 2.5]},
        "c": {"multipleOf": 0.1},
    },
}


def _fuzz_docs(seed: int = 4242, n: int = 300) -> list[str]:
    import random

    rng = random.Random(seed)
    vals = [
        "-5", "-6", "5", "6", "0", "0.0", "0.5", "2.5", "-0.0", "true",
        "false", "null", '"x"', '"xyz"', '"wxyz"', '""', "[1]", '{"z":1}',
        "1e400", "9007199254740993",
    ]
    docs = []
    for _ in range(n):
        parts = [
            f'"{key}": {rng.choice(vals)}'
            for key in ("a", "b", "c")
            if rng.random() >= 0.2  # else the key is absent
        ]
        docs.append("{" + ", ".join(parts) + "}")
    return docs


CORPORA = [
    # (schema, docs, spot checks: doc index -> verdict)
    pytest.param(FLAT, CORNER_DOCS, {16: False, 17: True, 27: False}, id="flat"),
    pytest.param(
        {"required": ["k"], "properties": {"k": {"type": "string"}}},
        CORNER_DOCS,
        {i: True for i, d in enumerate(CORNER_DOCS) if d in _NON_OBJECTS},
        id="no_type",
    ),
    pytest.param(KEYWORD_ZOO, KEYWORD_ZOO_DOCS, {}, id="keyword_zoo"),
    pytest.param(COMBINATORS, COMBINATOR_DOCS, {8: False}, id="combinators"),
    pytest.param(TOP_COMBINATORS, TOP_COMBINATOR_DOCS, {}, id="top_combinators"),
    pytest.param(TOP_ITE, TOP_ITE_DOCS, {}, id="top_ite"),
    pytest.param(FUZZ, _fuzz_docs(), {}, id="fuzz"),
]


@pytest.mark.parametrize(("schema", "docs", "spot"), CORPORA)
def test_gate_filter_matches_apply_gate(spark, schema, docs, spot):
    """gate_filter's kept ids (the screen may fast-reject certainly-invalid
    rows) equal apply_gate's isvalid ids (exact first-issue walk)."""
    df = spark.createDataFrame(list(enumerate(docs)), "id long, js string")
    kept = {r.id for r in gate_filter(df, schema, json_col="js").collect()}
    valid = {
        r.id for r in apply_gate(df, schema, json_col="js").filter("isvalid").collect()
    }
    assert kept == valid, (
        f"filter-only: {sorted(kept - valid)}, apply-only: {sorted(valid - kept)}"
    )
    assert {i: i in kept for i in spot} == spot


# ---------------------------------------------------------------------------
# documents nested past the interpreter's recursion limit fail closed
# ---------------------------------------------------------------------------

_RECURSIVE_ARRAYS = {
    "definitions": {"a": {"type": "array", "items": {"$ref": "#/definitions/a"}}},
    "type": "object",
    "properties": {"k": {"$ref": "#/definitions/a"}},
}


@pytest.mark.parametrize(
    ("schema", "depth", "deep_ok"),
    [
        # shallow control: the nested row is an ordinary valid row
        pytest.param({"type": "object", "properties": {"k": {"type": "array"}}},
                     50, True, id="shallow"),
        # json.loads itself overflows the stack
        pytest.param({"type": "object", "properties": {"k": {"type": "array"}}},
                     5000, False, id="parse"),
        # the document parses, but the walk recurses once per level
        pytest.param(_RECURSIVE_ARRAYS, 700, False, id="walk"),
    ],
)
def test_deeply_nested_row_fails_closed(spark, schema, depth, deep_ok):
    deep = '{"k": ' + "[" * depth + "]" * depth + "}"
    df = spark.createDataFrame(
        [(0, '{"k": []}'), (1, deep), (2, '{"k": 5}')], "id long, js string"
    )
    kept = {r.id for r in gate_filter(df, schema, json_col="js").collect()}
    assert kept == ({0, 1} if deep_ok else {0})
    issues = {
        r.id: r
        for r in apply_gate(df, schema, json_col="js")
        .select("id", "isvalid", "issue.reason", "issue.value").collect()
    }
    assert [issues[i].isvalid for i in range(3)] == [True, deep_ok, False]
    assert issues[2].reason == "type"
    if not deep_ok:
        assert issues[1].reason == "json"
        assert "nesting depth" in issues[1].value
