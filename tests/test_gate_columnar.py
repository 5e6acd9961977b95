"""Columnar screening pre-pass: eligibility, soundness, and a screen-vs-walk
differential over adversarial JSON batches (no Spark needed — the kernel is
pure pandas/pyarrow, exercised exactly as the pandas UDF calls it)."""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import random
import sys

import numpy as np
import pandas as pd
import pytest

from jsonschema_jl_spark.gate.columnar import plan_screen, screen_batch
from jsonschema_jl_spark.gate.gate import _gate_rows, _issue_record
from jsonschema_jl_spark.gate.schema import Schema

FLAT = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 90}},
}

RICH = {
    "type": "object",
    "required": ["name", "n"],
    "properties": {
        "name": {"type": "string", "minLength": 2, "maxLength": 8, "pattern": "^[a-z]"},
        "n": {"type": "number", "exclusiveMinimum": 0, "exclusiveMaximum": 100.5},
        "tag": {"enum": ["a", "b", 3, True]},
        "flag": {"type": "boolean"},
        "c": {"const": 7},
    },
}


def test_plan_eligible():
    assert plan_screen(Schema(FLAT).data) is not None
    assert plan_screen(Schema(RICH).data) is not None
    assert plan_screen({}) is not None  # empty schema screens trivially


@pytest.mark.parametrize(
    "schema",
    [
        {"type": "array"},
        {"allOf": [{"type": "object"}]},
        {"properties": {"k": {"properties": {"x": {}}}}},     # nested
        {"properties": {"k": {"multipleOf": 3}}},             # tolerance kw
        {"properties": {"k": {"minimum": 5, "exclusiveMinimum": True}}},  # draft4
        {"properties": {"k": {"enum": [[1, 2]]}}},            # non-scalar enum
        {"properties": {"k": {"maximum": 2 ** 60}}},          # beyond 2^53
        {"patternProperties": {"^a": {}}},
        {"additionalProperties": False},
        {"required": ["k"], "properties": {}},  # required w/o null-rejecting prop
    ],
)
def test_plan_ineligible_or_required_walks(schema):
    plan = plan_screen(Schema(schema).data)
    if plan is None:
        return
    # schemas that DO compile must drive screen_batch without crashing and
    # produce aligned masks; their verdict soundness is covered by the
    # screen-vs-walk differentials and the hypothesis fuzz below
    s = pd.Series([json.dumps({"k": 1})] * 3, dtype=object)
    masks = screen_batch(s, plan)
    assert masks is None or (len(masks[0]) == 3 and len(masks[1]) == 3)


# per-JSON-type value pools: a batch picks ONE pool per field (pyarrow
# unifies column types across rows — mixed types abort the whole batch, so
# homogeneous batches are the ones that actually engage the screen)
_POOLS = {
    "int": [0, 1, 7, 10, 42, 90, 91, -1, 3],
    "float": [3.0, 2.5, 100.5, 99.9, -0.5, 7.0, 10.0, 90.0],
    "bigint": [2 ** 54, 10 ** 23, 42],
    "str": ["", "a", "ab", "abcdefgh", "abcdefghij", "Zed", "b", "zz"],
    "bool": [True, False],
    "null": [None],
}


def _random_rows(rng: random.Random, n: int, adversarial: bool = False) -> list:
    fields = ("k", "name", "n", "tag", "flag", "c", "extra")
    pool_of = {f: rng.choice(list(_POOLS)) for f in fields}
    rows: list = []
    for _ in range(n):
        if adversarial:
            kind = rng.randrange(12)
            if kind == 0:
                rows.append(None)
                continue
            if kind == 1:
                rows.append("{not json")
                continue
            if kind == 2:
                rows.append("[1, 2, 3]")  # non-object
                continue
            if kind == 3:
                rows.append('{"k": 1, "k": 2}')  # duplicate keys
                continue
        obj = {}
        for fld in fields:
            r = rng.randrange(10)
            if r < 3:
                continue  # absent
            if r == 3:
                obj[fld] = None  # explicit null (distinct from absent)
            else:
                obj[fld] = rng.choice(_POOLS[pool_of[fld]])
        rows.append(json.dumps(obj))
    return rows


@pytest.mark.parametrize("adversarial", [False, True])
@pytest.mark.parametrize("schema", [FLAT, RICH, {}, {"properties": {"k": {}}}])
def test_screen_vs_walk_differential(schema, adversarial):
    data = Schema(schema).data
    plan = plan_screen(data)
    assert plan is not None
    for seed in range(20):  # 20 batches, each with its own type assignment
        rng = random.Random(1000 + seed)
        s = pd.Series(_random_rows(rng, 80, adversarial), dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


@pytest.mark.parametrize("schema", [FLAT, RICH])
def test_screen_soundness(schema):
    """Every row the screen marks certainly-valid IS valid per the exact
    validator (the one direction that must never be wrong)."""
    data = Schema(schema).data
    plan = plan_screen(data)
    engaged = 0
    hits = 0
    for seed in range(30):
        rng = random.Random(7000 + seed)
        s = pd.Series(_random_rows(rng, 80), dtype=object)
        masks = screen_batch(s, plan)
        if masks is None:
            continue
        engaged += 1
        valid, invalid = masks
        assert not (valid & invalid).any()  # masks are disjoint by contract
        for i in np.flatnonzero(valid):
            assert _issue_record(json.loads(s.iloc[i]), data) is None, s.iloc[i]
            hits += 1
        # the symmetric direction: every certainly-invalid row IS invalid
        for i in np.flatnonzero(invalid):
            assert _issue_record(json.loads(s.iloc[i]), data) is not None, s.iloc[i]
    assert engaged >= 10  # most homogeneous batches engage the screen
    # crafted all-valid rows: the screen must certify them (hits floor)
    crafted = pd.Series(
        [
            json.dumps({"k": 10 + i % 81, "name": "ab", "n": 50.5, "tag": "a",
                        "flag": bool(i % 2), "c": 7})
            for i in range(64)
        ],
        dtype=object,
    )
    masks = screen_batch(crafted, plan)
    assert masks is not None and masks[0].all() and not masks[1].any()
    for raw in crafted:
        assert _issue_record(json.loads(raw), data) is None


def test_screen_fast_path_hits_bench_shape():
    """The bench/contract events schema should screen ~all rows — valid
    ones into the valid mask, out-of-range ones into the invalid mask."""
    data = Schema(FLAT).data
    plan = plan_screen(data)
    rows = [json.dumps({"k": k, "pad": "x" * 10}) for k in range(0, 120)]
    s = pd.Series(rows, dtype=object)
    masks = screen_batch(s, plan)
    assert masks is not None
    valid, invalid = masks
    n_valid = sum(1 for k in range(0, 120) if 10 <= k <= 90)
    assert valid.sum() == n_valid
    assert invalid.sum() == 120 - n_valid  # every rejected row fast-rejects


@pytest.mark.parametrize("schema", [FLAT, RICH])
def test_screen_verdict_only_differential(schema):
    """verdict-only mode (gate_filter): isvalid verdicts must match the
    exact walk row-for-row; issue DETAIL may differ (placeholder) but
    issue NULLness may not."""
    data = Schema(schema).data
    plan = plan_screen(data)
    for seed in range(20):
        rng = random.Random(3000 + seed)
        s = pd.Series(_random_rows(rng, 80, adversarial=(seed % 2 == 0)), dtype=object)
        fast = _gate_rows(s, data, plan, verdict_only=True)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_series_equal(
            fast["reason"].isna(), slow["reason"].isna()
        )


def test_screen_missing_required_column_fast_rejects():
    """A batch where NO row carries a required key: column absence proves
    key absence, so every screened row is certainly invalid."""
    plan = plan_screen(Schema(FLAT).data)  # requires "k"
    s = pd.Series([json.dumps({"other": i}) for i in range(16)], dtype=object)
    masks = screen_batch(s, plan)
    assert masks is not None
    assert not masks[0].any() and masks[1].all()
    # exact walk agrees
    data = Schema(FLAT).data
    for raw in s:
        assert _issue_record(json.loads(raw), data) is not None


def test_screen_missing_optional_column_still_screens():
    """An optional type-constrained property entirely absent from the batch
    must not force a fallback: absence is proven by column absence."""
    schema = {"properties": {"opt": {"type": "integer"}},
              "required": ["k"], "type": "object"}
    plan = plan_screen(Schema(schema).data)
    assert plan is not None
    s = pd.Series([json.dumps({"k": i}) for i in range(8)], dtype=object)
    masks = screen_batch(s, plan)
    assert masks is not None and masks[0].all()


def test_screen_enum_plus_const_walks():
    """enum and const TOGETHER must both hold; the screen's _enum_of only
    sees the enum, so such subschemas are walk territory (regression: the
    screen used to certify {"x": 1} valid under enum [1,2] + const 2)."""
    schema = {"type": "object", "properties": {"x": {"enum": [1, 2], "const": 2}}}
    data = Schema(schema).data
    assert plan_screen(data) is None
    assert _issue_record({"x": 1}, data) is not None  # const fails
    assert _issue_record({"x": 2}, data) is None


def test_screen_union_type_screens():
    """Legal union-type lists (`"type": ["string", "null"]`) are now
    screenable (membership read off the parsed column type); malformed
    union lists (non-string members, unknown names, empty) still fall back
    without crashing (regression: TypeError on an unhashable list)."""
    schema = {
        "type": "object",
        "properties": {"x": {"type": ["string", "null"]}},
    }
    data = Schema(schema).data
    assert plan_screen(data) is not None
    assert _issue_record({"x": "a"}, data) is None
    assert _issue_record({"x": 3}, data) is not None
    assert plan_screen({"properties": {"x": {"type": []}}}) is None
    assert plan_screen({"properties": {"x": {"type": ["strange"]}}}) is None
    assert plan_screen({"properties": {"x": {"type": [3]}}}) is None


def test_screen_type_null_is_noop():
    """`"type": null` is a no-op for the exact walk (non-string, non-list
    type values validate nothing); the screen must not treat key PRESENCE
    as a type constraint (regression: `"type" in sub` fast-rejected
    array/object values the walk accepts)."""
    schema = {"type": "object", "properties": {"a": {"type": None}}}
    data = Schema(schema).data
    plan = plan_screen(data)
    assert plan is not None
    row = json.dumps({"a": [1, 2]})
    assert _issue_record(json.loads(row), data) is None
    masks = screen_batch(pd.Series([row] * 4, dtype=object), plan)
    assert masks is not None
    valid, invalid = masks
    assert not invalid.any()  # never certainly-invalid
    for i in np.flatnonzero(valid):
        assert _issue_record(json.loads(row), data) is None


def test_pyarrow_null_column_probe():
    """The missing-column fast-reject relies on: an explicit `"k": null`
    yields a null-typed COLUMN (not column absence).  Probe the behavior
    the screen depends on so a pyarrow upgrade that changes it fails
    loudly here rather than as a silent verdict bug."""
    import io
    from pyarrow import json as pajson

    tbl = pajson.read_json(io.BytesIO(b'{"a": 1, "b": null}\n{"a": 2}'))
    assert "b" in tbl.schema.names  # explicit null keeps the column
    tbl2 = pajson.read_json(io.BytesIO(b'{"a": 1}\n{"a": 2}'))
    assert "b" not in tbl2.schema.names  # truly absent key -> no column


# ---------------------------------------------------------------------------
# round-4 extension: array-of-scalar and one-level nested-object screening

ARRAYED = {
    "type": "object",
    "required": ["tags"],
    "properties": {
        "tags": {"type": "array", "minItems": 1, "maxItems": 4,
                 "items": {"type": "string", "minLength": 2}},
        "nums": {"type": "array", "items": {"type": "integer", "minimum": 0}},
    },
}

NESTED = {
    "type": "object",
    "required": ["meta"],
    "properties": {
        "meta": {
            "type": "object",
            "required": ["w"],
            "properties": {
                "w": {"type": "integer", "minimum": 1},
                "fmt": {"enum": ["png", "jpeg"]},
            },
        },
        "k": {"type": "integer"},
    },
}

_ARR_POOLS = {
    "strs_ok": [["ab", "cde"], ["xy"], ["abcd", "ef", "gh", "ij"]],
    "strs_short": [["a"], ["ab", "x"]],
    "too_many": [["ab", "cd", "ef", "gh", "ij"]],
    "empty": [[]],
    "ints": [[1, 2], [0]],
    "with_null": [["ab", None], [None]],
    "scalar": ["ab", "xyz"],  # homogeneous: mixed types abort the parse
    "nested_arr": [[["a"]], [[1, 2]]],
    "null": [None],
}

_META_POOLS = {
    "ok": [{"w": 3}, {"w": 1, "fmt": "png"}, {"w": 9, "fmt": "jpeg"}],
    "bad_w": [{"w": 0}, {"w": -2, "fmt": "png"}, {"w": 2.5}],
    "bad_fmt": [{"w": 2, "fmt": "bmp"}, {"w": 2, "fmt": 3}],
    "missing_w": [{}, {"fmt": "png"}],
    "null_w": [{"w": None}],
    "scalar": ["x", "yy"],
    "null": [None],
}


def _rows_for(rng: random.Random, n: int, pools: dict, field: str) -> list:
    pool = rng.choice(list(pools))
    # one homogeneous type per batch for the extra column — mixed types
    # abort the whole batch's pyarrow parse (full fallback), which is its
    # own (already-covered) path
    extra_pool = rng.choice([[1, 7], [2.5, 3.5], ["x", "y"], [None]])
    rows = []
    for _ in range(n):
        r = rng.randrange(10)
        obj = {}
        if r >= 2:  # else absent
            obj[field] = rng.choice(pools[pool])
        if rng.randrange(3) == 0:
            obj["k" if field != "k" else "j"] = rng.choice(extra_pool)
        rows.append(json.dumps(obj))
    return rows


@pytest.mark.parametrize(
    "schema,pools,field",
    [(ARRAYED, _ARR_POOLS, "tags"), (NESTED, _META_POOLS, "meta")],
)
def test_screen_extended_differential(schema, pools, field):
    """Array / nested-object screening: full-detail and verdict-only outputs
    must match the exact walk row-for-row over homogeneous batches of every
    pool shape (wrong types, nulls, short/long arrays, missing nested
    required, null elements...)."""
    data = Schema(schema).data
    plan = plan_screen(data)
    assert plan is not None, "extended shapes must be plan-eligible"
    for seed in range(40):
        rng = random.Random(5000 + seed)
        s = pd.Series(_rows_for(rng, 60, pools, field), dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)
        fast_v = _gate_rows(s, data, plan, verdict_only=True)
        pd.testing.assert_series_equal(
            fast_v["reason"].isna(), slow["reason"].isna()
        )


@pytest.mark.parametrize(
    "schema,pools,field",
    [(ARRAYED, _ARR_POOLS, "tags"), (NESTED, _META_POOLS, "meta")],
)
def test_screen_extended_soundness_and_engagement(schema, pools, field):
    """Both mask directions verified against the exact validator, and the
    screen must actually ENGAGE on these shapes (not silently fall back —
    a fallback-everything implementation passes the differential
    vacuously)."""
    data = Schema(schema).data
    plan = plan_screen(data)
    engaged = certified = rejected = 0
    for seed in range(40):
        rng = random.Random(9100 + seed)
        s = pd.Series(_rows_for(rng, 60, pools, field), dtype=object)
        masks = screen_batch(s, plan)
        if masks is None:
            continue
        engaged += 1
        valid, invalid = masks
        assert not (valid & invalid).any()
        for i in np.flatnonzero(valid):
            assert _issue_record(json.loads(s.iloc[i]), data) is None, s.iloc[i]
            certified += 1
        for i in np.flatnonzero(invalid):
            assert _issue_record(json.loads(s.iloc[i]), data) is not None, s.iloc[i]
            rejected += 1
    # engagement floor: most homogeneous batches engage; certification is
    # rarer by design — a row certifies only when every type-constrained
    # optional field is PRESENT (a missing key is an ambiguous null cell:
    # absent would be valid, explicit null would not)
    assert engaged >= 25
    assert certified >= 10 and rejected >= 200


def test_screen_array_crafted_verdicts():
    """Crafted rows with known verdicts, each screened in its own
    homogeneous batch (pyarrow aborts on cross-row type mixes): the screen
    must DEFINITIVELY classify each (no walking), proving the list kernel's
    per-element aggregation and count checks."""
    data = Schema(ARRAYED).data
    plan = plan_screen(data)
    cases = [
        ({"tags": ["ab", "cd"]}, True),
        ({"tags": ["ab"], "nums": [1, 2]}, True),
        ({"tags": []}, False),                      # minItems
        ({"tags": ["ab"] * 5}, False),              # maxItems
        ({"tags": ["ab", "x"]}, False),             # element minLength
        ({"tags": [1, 2]}, False),                  # wrong element type
        ({"tags": "ab"}, False),                    # not an array
        ({"tags": ["ab", None]}, False),            # null element fails type
        ({"tags": ["ab"], "nums": [1, -1]}, False), # element minimum
        ({"tags": ["ab"], "nums": [1.5]}, False),   # non-integer element
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 4, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        assert valid.all() == want and invalid.all() == (not want), row
    # a row whose list mixes element types passes the per-row probe but
    # still aborts pyarrow's re-parse -> the whole batch walks
    mixed = json.dumps({"tags": ["ab", 3]})
    s = pd.Series([mixed, json.dumps({"tags": ["ab", "cd"]})], dtype=object)
    assert screen_batch(s, plan) is None
    assert _issue_record(json.loads(mixed), data) is not None
    assert list(_gate_rows(s, data, plan)["reason"].isna()) == [False, True]
    # required `tags` entirely absent from the batch: column absence proves
    # key absence -> definitive required failure
    s = pd.Series([json.dumps({"nums": [1, 2]})] * 4, dtype=object)
    masks = screen_batch(s, plan)
    assert masks is not None and masks[1].all() and not masks[0].any()


def test_screen_nested_crafted_verdicts():
    data = Schema(NESTED).data
    plan = plan_screen(data)
    # (row, exact-walk verdict, definitive: screen must fast-classify)
    cases = [
        ({"meta": {"w": 3}}, True, False),           # fmt null-cell ambiguity? no fmt column at all -> optional absent proven -> definitive
        ({"meta": {"w": 1, "fmt": "png"}, "k": 5}, True, True),
        ({"meta": {"w": 0, "fmt": "png"}}, False, True),   # nested minimum
        ({"meta": {"w": 2, "fmt": "bmp"}}, False, True),   # nested enum
        ({"meta": {"fmt": "png"}}, False, False),    # nested required: absent key -> invalid, but a null cell is ambiguous when the field exists in the TYPE... here w is missing from the struct type entirely -> definitive
        ({"meta": 7}, False, True),                  # not an object
        ({"meta": {"w": 2.5}}, False, True),         # nested non-integer
        ({"k": 1}, False, True),                     # required meta absent (column missing)
        ({"meta": None}, False, True),               # null fails type: object
    ]
    for row, want, _ in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 4, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            # invalid rows: never certified; fast-reject when definitive
            assert not valid.any(), row
            assert invalid.all(), row  # all the False cases above are definitive (absence proven at column/struct-type level in a homogeneous batch)
    # ambiguity case needs a MIXED batch: w present in the struct type but
    # null for one row (explicit-null vs absent differ for nested required
    # without w constraints violating null)... w has type integer so null
    # fails it AND required -> still definitive. Build a genuinely ambiguous
    # cell instead on `fmt` (optional, enum without null): present in type,
    # null cell -> absent(valid) vs null(invalid) -> row must walk
    rows = [json.dumps({"meta": {"w": 2, "fmt": "png"}}),
            json.dumps({"meta": {"w": 2}})]
    masks = screen_batch(pd.Series(rows, dtype=object), plan)
    assert masks is not None
    valid, invalid = masks
    assert valid[0] and not invalid[0]
    assert not valid[1] and not invalid[1]  # walks: fmt cell is null-or-absent


ALLOF = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer"}},
    "allOf": [
        {"properties": {"k": {"minimum": 10}}},
        {"properties": {"k": {"maximum": 90}, "name": {"type": "string"}},
         "required": ["name"]},
    ],
}


def test_plan_conj_eligibility():
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    plans = plan_screen_conj(Schema(ALLOF).data)
    assert plans is not None and len(plans) == 3  # base + 2 members
    # non-allOf schemas keep their single plan (wrapped)
    assert len(plan_screen_conj(Schema(FLAT).data)) == 1
    # unscreenable member (nested allOf) -> whole schema walks
    assert plan_screen_conj({"allOf": [{"allOf": [{}]}]}) is None
    # bool member -> walks; empty allOf -> walks; oneOf alongside now
    # compiles into a ("top", conj, ops) plan
    assert plan_screen_conj({"allOf": [True]}) is None
    assert plan_screen_conj({"allOf": []}) is None
    top = plan_screen_conj({"allOf": [{}], "oneOf": [{}]})
    assert isinstance(top, tuple) and top[0] == "top"


def test_screen_allof_crafted_verdicts():
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    data = Schema(ALLOF).data
    plans = plan_screen_conj(data)
    cases = [
        ({"k": 50, "name": "ok"}, True),
        ({"k": 5, "name": "ok"}, False),    # member-1 minimum
        ({"k": 95, "name": "ok"}, False),   # member-2 maximum
        ({"k": 50}, False),                  # member-2 required name
        ({"k": 50, "name": 3}, False),      # member-2 name type
        ({"name": "ok"}, False),            # base required k
        ({"k": "x", "name": "ok"}, False),  # base k type
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 4, dtype=object), plans)
        assert masks is not None, row
        valid, invalid = masks
        assert not (valid & invalid).any()
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row


def test_screen_allof_differential():
    """allOf conjunction screening must match the exact walk row-for-row
    (full-detail mode: certainly-valid rows skip the walk) and verdict-wise
    (verdict-only mode) over mixed random batches."""
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    data = Schema(ALLOF).data
    plans = plan_screen_conj(data)
    for seed in range(25):
        rng = random.Random(7300 + seed)
        s = pd.Series(_random_rows(rng, 80, adversarial=seed % 2 == 1), dtype=object)
        fast = _gate_rows(s, data, plans)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)
        fast_v = _gate_rows(s, data, plans, verdict_only=True)
        pd.testing.assert_series_equal(
            fast_v["reason"].isna(), slow["reason"].isna()
        )


ONEOF_PROP = {
    "type": "object",
    "required": ["value"],
    "properties": {"value": {"oneOf": [{"maximum": 100}, {"minimum": 50}]}},
}

COMB_PROPS = {
    "type": "object",
    "properties": {
        "a": {"anyOf": [{"type": "string", "maxLength": 2}, {"minimum": 10}]},
        "b": {"allOf": [{"minimum": 0}, {"maximum": 5}]},
        "c": {"not": {"enum": ["bad", 13]}},
    },
}


def test_plan_scalar_combinators_eligible():
    assert plan_screen(Schema(ONEOF_PROP).data) is not None
    assert plan_screen(Schema(COMB_PROPS).data) is not None
    # unscreenable member (object-typed properties) -> whole schema walks
    assert plan_screen(
        {"properties": {"v": {"oneOf": [{"properties": {"x": {}}}]}}}
    ) is None
    # empty member list is not a screenable shape
    assert plan_screen({"properties": {"v": {"anyOf": []}}}) is None


def test_screen_oneof_property_crafted_verdicts():
    """The contract's gate_events_oneof shape: oneOf over numeric bounds.
    Both members are fully screened, so every verdict is definitive —
    including the 'both match' failure and the null two-member-pass case."""
    data = Schema(ONEOF_PROP).data
    plan = plan_screen(data)
    assert plan is not None
    cases = [
        ({"value": 30}, True),     # only member 1 (<=100)
        ({"value": 150}, True),    # only member 2 (>=50)
        ({"value": 75}, False),    # BOTH match -> oneOf fails
        ({"value": None}, False),  # null passes both members -> 2 matches
        ({}, False),               # required value
        ({"value": "x"}, False),   # string passes both vacuously -> 2
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row


def test_screen_combinators_differential():
    """anyOf/allOf/not property subschemas: screen output must equal the
    exact walk row-for-row over homogeneous random batches."""
    data = Schema(COMB_PROPS).data
    plan = plan_screen(data)
    assert plan is not None
    pools = {
        "int": [0, 3, 5, 9, 10, 50, 13],
        "float": [2.5, -1.0, 99.9, 13.0],
        "str": ["x", "ab", "bad", "longer"],
        "null": [None],
        "bool": [True, False],
    }
    for seed in range(30):
        rng = random.Random(8800 + seed)
        pool_of = {f: rng.choice(list(pools)) for f in ("a", "b", "c")}
        rows = []
        for _ in range(60):
            obj = {}
            for f in ("a", "b", "c"):
                r = rng.randrange(10)
                if r < 3:
                    continue
                obj[f] = None if r == 3 else rng.choice(pools[pool_of[f]])
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)
        fast_v = _gate_rows(s, data, plan, verdict_only=True)
        pd.testing.assert_series_equal(
            fast_v["reason"].isna(), slow["reason"].isna()
        )


ITE_TOP = {
    "type": "object",
    "required": ["event_type", "value"],
    "if": {"properties": {"event_type": {"const": "error"}}},
    "then": {"properties": {"value": {"maximum": 250}}},
    "else": {"properties": {"value": {"maximum": 450}}},
}

TOP_COMB = {
    "type": "object",
    "properties": {"k": {"type": "integer"}},
    "anyOf": [
        {"required": ["k"], "properties": {"k": {"minimum": 10}}},
        {"required": ["alt"], "properties": {"alt": {"type": "string"}}},
    ],
    "not": {"required": ["debug"]},
}


def test_screen_top_anyof_not_crafted_verdicts():
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    data = Schema(TOP_COMB).data
    plan = plan_screen_conj(data)
    assert isinstance(plan, tuple) and plan[0] == "top"
    cases = [
        ({"k": 20}, True),
        ({"alt": "x"}, True),               # second anyOf member
        ({"k": 20, "debug": 1}, False),     # not(required debug)
        ({"k": "s"}, False),                # base type + both members fail
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        assert not (valid & invalid).any()
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # {"k": 5}: anyOf member 1 fails (minimum) but member 2's verdict is
    # ambiguous only through required-absent... here alt's column is absent
    # from a homogeneous {"k":5} batch -> member 2 definitively fails
    # (required alt) -> anyOf certainly invalid
    row = json.dumps({"k": 5})
    assert _issue_record(json.loads(row), data) is not None
    valid, invalid = screen_batch(pd.Series([row] * 3, dtype=object), plan)
    assert invalid.all() and not valid.any()


def test_screen_top_oneof_differential():
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    schema = {
        "type": "object",
        "oneOf": [
            {"required": ["a"], "properties": {"a": {"minimum": 0}}},
            {"required": ["b"], "properties": {"b": {"type": "string"}}},
        ],
    }
    data = Schema(schema).data
    plan = plan_screen_conj(data)
    assert isinstance(plan, tuple) and plan[0] == "top"
    for seed in range(25):
        rng = random.Random(5100 + seed)
        rows = []
        for _ in range(50):
            obj = {}
            if rng.randrange(3):
                obj["a"] = rng.choice([-5, 0, 7, None])
            if rng.randrange(3):
                obj["b"] = rng.choice(["x", "y", None])
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)
        fast_v = _gate_rows(s, data, plan, verdict_only=True)
        pd.testing.assert_series_equal(
            fast_v["reason"].isna(), slow["reason"].isna()
        )


ITE_SCALAR = {
    "type": "object",
    "properties": {
        "v": {"if": {"type": "string"}, "then": {"minLength": 3},
              "else": {"minimum": 10}},
    },
}


def test_screen_ite_top_level_crafted_verdicts():
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    data = Schema(ITE_TOP).data
    plan = plan_screen_conj(data)
    assert isinstance(plan, tuple) and plan[0] == "top"
    cases = [
        ({"event_type": "error", "value": 200}, True),
        ({"event_type": "error", "value": 300}, False),   # then maximum
        ({"event_type": "click", "value": 300}, True),
        ({"event_type": "click", "value": 500}, False),   # else maximum
        ({"value": 10}, False),                            # required event_type
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        assert not (valid & invalid).any()
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # event_type's null cell in a mixed batch: the second row's text holds
    # no `null` literal, so the cell is proven absent and fails the base
    # `required` definitively; the third row's explicit null passes the
    # (empty) base property subschema, so absent-OR-null stays ambiguous
    rows = [json.dumps({"event_type": "error", "value": 1}),
            json.dumps({"value": 1}),
            json.dumps({"value": 1, "note": None})]
    masks = screen_batch(pd.Series(rows, dtype=object), plan)
    valid, invalid = masks
    assert valid[0] and not invalid[0]
    assert _issue_record(json.loads(rows[1]), data) is not None
    assert not valid[1] and invalid[1]
    assert not valid[2] and not invalid[2]


def test_screen_ite_top_differential():
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    data = Schema(ITE_TOP).data
    plan = plan_screen_conj(data)
    etypes = ["error", "click", "view", None]
    for seed in range(25):
        rng = random.Random(6400 + seed)
        rows = []
        for _ in range(60):
            obj = {}
            if rng.randrange(10) >= 1:
                obj["event_type"] = rng.choice(etypes)
            if rng.randrange(10) >= 1:
                obj["value"] = rng.choice([100, 260, 440, 460, None])
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)
        fast_v = _gate_rows(s, data, plan, verdict_only=True)
        pd.testing.assert_series_equal(
            fast_v["reason"].isna(), slow["reason"].isna()
        )


def test_screen_ite_scalar_differential():
    """Scalar-level if/then/else: definitive if-verdicts partition present
    values exactly; differential over homogeneous batches of every pool."""
    data = Schema(ITE_SCALAR).data
    plan = plan_screen(data)
    assert plan is not None
    pools = [[5, 15, 9, 10], [2.5, 50.0], ["ab", "abc", "x"], [True, False], [None]]
    for seed in range(25):
        rng = random.Random(3600 + seed)
        pool = rng.choice(pools)
        rows = []
        for _ in range(50):
            r = rng.randrange(10)
            obj = {}
            if r >= 2:
                obj["v"] = None if r == 2 else rng.choice(pool)
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


def test_screen_multiple_of_parity():
    """multipleOf screening must match the walk's isapprox semantics
    bit-for-bit, including the classic 0.1-divisor float cases, zero
    divisors, and integer multiples."""
    schema = {"type": "object",
              "properties": {"v": {"multipleOf": 0.1}, "n": {"multipleOf": 3},
                             "z": {"multipleOf": 0}}}
    data = Schema(schema).data
    plan = plan_screen(data)
    assert plan is not None
    vals = [0.1, 0.2, 0.3, 0.25, 0.30000000000000004, 1.0, -0.7, 3.05]
    ns = [0, 3, 6, 7, -9, 2]
    zs = [0, 1, 2.5]
    rows = []
    for v in vals:
        rows.append(json.dumps({"v": v}))
    for n in ns:
        rows.append(json.dumps({"n": n}))
    for z in zs:
        rows.append(json.dumps({"z": z}))
    for batch in rows:  # homogeneous singleton batches
        s = pd.Series([batch] * 3, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow, obj=batch)
        masks = screen_batch(s, plan)
        assert masks is not None
        valid, invalid = masks
        # every verdict must be DEFINITIVE (no walking) on these shapes
        assert (valid | invalid).all(), batch
    # bool divisor: walk no-ops multipleOf -> unscreenable, clean fallback
    assert plan_screen({"properties": {"v": {"multipleOf": True}}}) is None


UNION = {
    "type": "object",
    "required": ["u"],
    "properties": {
        "u": {"type": ["string", "null"], "maxLength": 3},
        "x": {"type": ["integer", "boolean"]},
        "y": {"type": ["number", "array"]},
        "z": {"type": "null"},
    },
}


def test_screen_union_types_crafted_verdicts():
    data = Schema(UNION).data
    plan = plan_screen(data)
    assert plan is not None, "union-type lists must now be plan-eligible"
    cases = [
        ({"u": "ab"}, True),
        ({"u": "long"}, False),         # maxLength on the string member
        ({"u": 5}, False),              # neither string nor null
        ({"u": "a", "x": 3}, True),
        ({"u": "a", "x": True}, True),  # boolean admitted
        ({"u": "a", "x": 2.5}, False),  # non-integral float
        ({"u": "a", "x": 2.0}, True),   # integral float counts as integer
        ({"u": "a", "x": "s"}, False),
        ({"u": "a", "y": [1, 2]}, True),   # array admitted by the union
        ({"u": "a", "y": 1.5}, True),
        ({"u": "a", "z": 7}, False),    # type: null rejects any present value
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # {"u": null} is walk-VALID (key present, null in the union) but the
    # screen's null cell is absent-OR-null and u is required -> ambiguous
    row = json.dumps({"u": None})
    assert _issue_record(json.loads(row), data) is None
    valid, invalid = screen_batch(pd.Series([row] * 3, dtype=object), plan)
    assert not valid.any() and not invalid.any()


def test_screen_union_types_differential():
    data = Schema(UNION).data
    plan = plan_screen(data)
    pools = {
        "str": ["a", "abc", "long1"], "int": [1, 2, 7], "float": [2.0, 2.5],
        "bool": [True, False], "null": [None], "arr": [[1], []],
    }
    for seed in range(30):
        rng = random.Random(4200 + seed)
        pool_of = {f: rng.choice(list(pools)) for f in ("u", "x", "y", "z")}
        rows = []
        for _ in range(50):
            obj = {}
            for f in ("u", "x", "y", "z"):
                r = rng.randrange(10)
                if r < 3:
                    continue
                obj[f] = None if r == 3 else rng.choice(pools[pool_of[f]])
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


ARR_EXT = {
    "type": "object",
    "properties": {
        "a": {"type": "array", "contains": {"minimum": 95}},
        "b": {"type": "array", "uniqueItems": True},
        "c": {"type": "array", "items": {"type": "integer"},
              "contains": {"maximum": 0}, "uniqueItems": True},
    },
}


def test_screen_array_contains_unique_crafted_verdicts():
    data = Schema(ARR_EXT).data
    plan = plan_screen(data)
    assert plan is not None
    cases = [
        ({"a": [1, 99]}, True),          # one element >= 95
        ({"a": [1, 2]}, False),          # none
        ({"a": []}, False),              # empty: contains fails
        ({"a": ["x"]}, True),            # minimum applies only to numbers:
                                         # "x" VALIDATES the member vacuously
        ({"b": [1, 2, 3]}, True),
        ({"b": [1, 2, 1]}, False),       # dup
        ({"b": [1.0, 1]}, False),        # 1.0 == 1 (walk json_equal)
        ({"b": ["x", "y", "x"]}, False),
        ({"b": []}, True),
        ({"c": [-1, 0, 3]}, True),
        ({"c": [1, 2]}, False),          # contains maximum 0
        ({"c": [-1, -1]}, False),        # dup
        ({"c": [-1, 2.5]}, False),       # items integer
    ]
    for row, want in cases:
        walk = _issue_record(row, data) is None
        assert walk == want, (row, walk)
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        assert not (valid & invalid).any()
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # [null, null] parses to pyarrow's structurally-broken list<null>; the
    # existing guard falls the batch back to the walk (which rejects the
    # dup nulls) instead of trusting the column
    row = {"b": [None, None]}
    assert _issue_record(row, data) is not None
    assert screen_batch(
        pd.Series([json.dumps(row)] * 3, dtype=object), plan
    ) is None


def test_screen_array_contains_unique_differential():
    data = Schema(ARR_EXT).data
    plan = plan_screen(data)
    pools = {
        "ints": [[1, 99], [1, 2, 1], [], [95], [0, -1], [3, 3, 99]],
        "floats": [[1.5, 99.5], [1.0, 1], [2.5]],
        "strs": [["x", "y"], ["x", "x"], []],
        "null": [None],
        "mixednull": [[None, 1], [None, None]],
    }
    for seed in range(30):
        rng = random.Random(2700 + seed)
        pool_of = {f: rng.choice(list(pools)) for f in ("a", "b", "c")}
        rows = []
        for _ in range(50):
            obj = {}
            for f in ("a", "b", "c"):
                r = rng.randrange(10)
                if r < 3:
                    continue
                obj[f] = None if r == 3 else rng.choice(pool_of[f] and pools[pool_of[f]])
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


ARR_OF_OBJ = {
    "type": "object",
    "properties": {
        "recs": {
            "type": "array",
            "minItems": 1,
            "items": {
                "type": "object",
                "required": ["id"],
                "properties": {"id": {"type": "integer", "minimum": 0},
                               "w": {"maximum": 10}},
            },
        },
    },
}

OBJ_WITH_ARR = {
    "type": "object",
    "properties": {
        "meta": {
            "type": "object",
            "required": ["tags"],
            "properties": {
                "tags": {"type": "array", "items": {"type": "string"},
                         "minItems": 1, "uniqueItems": True},
                "n": {"type": "integer"},
            },
        },
    },
}


def test_screen_array_of_objects_crafted_verdicts():
    data = Schema(ARR_OF_OBJ).data
    plan = plan_screen(data)
    assert plan is not None, "array-of-objects must be plan-eligible"
    cases = [
        ({"recs": [{"id": 1}, {"id": 2, "w": 3}]}, True, True),
        ({"recs": [{"id": -1}]}, False, True),      # element minimum
        ({"recs": [{"w": 3}]}, False, True),        # required id: absent from
                                                    # every element struct key
        ({"recs": []}, False, True),                # minItems
        ({"recs": [{"id": 1, "w": 99}]}, False, True),  # element maximum
        ({"recs": 5}, False, True),                 # not an array
        ({"recs": [{"id": 2.5}]}, False, True),     # element id type
    ]
    for row, want, definitive in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        assert not (valid & invalid).any()
        if definitive:
            assert (valid.all() if want else invalid.all()), row
    # ambiguous ELEMENT: id null in a batch whose element type HAS id ->
    # absent(required fails) vs null(fails type integer)... both invalid
    # -> actually definitive; build true ambiguity via an optional field
    # with a type: {"w": null} next to {"w": 3} -> w cell null is
    # absent(valid) vs null(fails maximum? no - maximum passes null)...
    # w has no type so null passes -> both readings valid -> no ambiguity.
    # True per-element ambiguity needs required+null-valid, impossible
    # here; covered by the differential below instead.


def test_screen_array_of_objects_differential():
    data = Schema(ARR_OF_OBJ).data
    plan = plan_screen(data)
    pool = [
        [{"id": 1}, {"id": 2, "w": 3}], [{"id": -1}], [], [{"w": 4}],
        [{"id": 0, "w": 99}], [{"id": 7, "w": None}], [{"id": None}], None,
    ]
    for seed in range(30):
        rng = random.Random(9900 + seed)
        rows = []
        for _ in range(40):
            r = rng.randrange(10)
            obj = {}
            if r >= 2:
                obj["recs"] = rng.choice(pool)
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


def test_screen_object_with_array_field():
    data = Schema(OBJ_WITH_ARR).data
    plan = plan_screen(data)
    assert plan is not None, "array field inside nested object must be eligible"
    cases = [
        ({"meta": {"tags": ["a", "b"], "n": 1}}, True),
        ({"meta": {"tags": ["a", "a"]}}, False),   # uniqueItems
        ({"meta": {"tags": []}}, False),            # minItems
        ({"meta": {"tags": [1]}}, False),           # items type
        ({"meta": {"n": 1}}, False),                # required tags (absent
                                                    # from the struct type)
        ({"meta": {"tags": "x"}}, False),           # not an array
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        assert not (valid & invalid).any()
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # differential over mixed batches
    pool = [{"tags": ["a", "b"], "n": 1}, {"tags": ["a", "a"]}, {"tags": []},
            {"n": 2}, {"tags": ["x"], "n": None}, None]
    for seed in range(25):
        rng = random.Random(7700 + seed)
        rows = []
        for _ in range(40):
            r = rng.randrange(10)
            obj = {}
            if r >= 2:
                obj["meta"] = rng.choice(pool)
            rows.append(json.dumps(obj))
        s = pd.Series(rows, dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


STRICT = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer"}, "tag": {"type": "string"}},
    "additionalProperties": False,
}

PAT_PROPS = {
    "type": "object",
    "properties": {"id": {"type": "integer"}},
    "patternProperties": {"^x_": {"type": "integer", "minimum": 0}},
    "additionalProperties": {"type": "string"},
}

PROP_NAMES = {
    "type": "object",
    "propertyNames": {"minLength": 2, "pattern": "^[a-z]"},
}


def test_screen_additional_properties_false():
    data = Schema(STRICT).data
    plan = plan_screen(data)
    assert plan is not None, "additionalProperties: false must be screenable"
    # clean batch: no unknown columns -> strictness proven for every row
    # (all rows carry tag so the optional typed property is unambiguous)
    rows = [json.dumps({"k": 1, "tag": "a"}), json.dumps({"k": 2, "tag": "b"})]
    valid, invalid = screen_batch(pd.Series(rows * 3, dtype=object), plan)
    assert valid.all() and not invalid.any()
    # dirty batch: rows mentioning the stray key fast-reject; the clean row
    # cannot certify (its null cell in the stray column is ambiguous)
    rows = [json.dumps({"k": 1, "zz": 9}), json.dumps({"k": 1})]
    s = pd.Series(rows * 2, dtype=object)
    valid, invalid = screen_batch(s, plan)
    assert not valid.any()
    assert invalid[0] and invalid[2] and not invalid[1] and not invalid[3]
    for row in [{"k": 1, "zz": 9}, {"k": 1}]:
        assert (_issue_record(row, data) is None) == ("zz" not in row)
    # walk parity on mixed batches
    data_pool = [{"k": 1}, {"k": 2, "tag": "t"}, {"k": 3, "zz": 1}, {"zz": None}]
    for seed in range(20):
        rng = random.Random(3300 + seed)
        s = pd.Series([json.dumps(rng.choice(data_pool)) for _ in range(40)],
                      dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


def test_screen_pattern_properties_and_additional_schema():
    data = Schema(PAT_PROPS).data
    plan = plan_screen(data)
    assert plan is not None
    cases = [
        ({"id": 1, "x_a": 5}, True),
        ({"x_a": -1}, False),           # pattern subschema minimum
        ({"x_a": "s"}, False),          # pattern subschema type
        ({"id": 1, "note": "ok"}, True),   # additional: string passes
        ({"note": 5}, False),           # additional: non-string fails
        ({}, True),
    ]
    for row, want in cases:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        assert not (valid & invalid).any()
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # a key matching BOTH properties and a pattern must satisfy both: the
    # walk checks patternProperties regardless of properties membership
    both = {"type": "object", "properties": {"x_v": {"maximum": 10}},
            "patternProperties": {"^x_": {"minimum": 0}}}
    bdata = Schema(both).data
    bplan = plan_screen(bdata)
    for row, want in [({"x_v": 5}, True), ({"x_v": -1}, False), ({"x_v": 11}, False)]:
        assert (_issue_record(row, bdata) is None) == want, row
        valid, invalid = screen_batch(
            pd.Series([json.dumps(row)] * 3, dtype=object), bplan)
        assert (valid.all() if want else invalid.all()), row


def test_screen_property_names():
    data = Schema(PROP_NAMES).data
    plan = plan_screen(data)
    assert plan is not None
    ok_rows = [json.dumps({"ab": 1, "cd": "x"}), json.dumps({})]
    valid, invalid = screen_batch(pd.Series(ok_rows * 2, dtype=object), plan)
    assert valid.all() and not invalid.any()
    bad_rows = [json.dumps({"A": 1}), json.dumps({"ab": 2})]
    s = pd.Series(bad_rows * 2, dtype=object)
    valid, invalid = screen_batch(s, plan)
    assert invalid[0] and invalid[2]        # "A" fails pattern ^[a-z]
    assert not valid.any()                  # null cells in "A" -> ambiguous
    for row in [{"A": 1}, {"ab": 2}]:
        assert (_issue_record(row, data) is None) == ("A" not in row)
    # walk parity
    pool = [{"ab": 1}, {"A": 1}, {"z": 2}, {"ok": "x", "No": 1}, {}]
    for seed in range(20):
        rng = random.Random(6600 + seed)
        s = pd.Series([json.dumps(rng.choice(pool)) for _ in range(40)],
                      dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


def test_screen_min_max_properties():
    data = Schema({"type": "object", "minProperties": 1, "maxProperties": 2}).data
    plan = plan_screen(data)
    assert plan is not None
    # homogeneous batches: counts fully decided (all keys non-null)
    for row, want in [({"a": 1}, True), ({"a": 1, "b": 2}, True),
                      ({"a": 1, "b": 2, "c": 3}, False), ({}, False)]:
        assert (_issue_record(row, data) is None) == want, row
        masks = screen_batch(pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert masks is not None, row
        valid, invalid = masks
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # mixed batch: {} rows in a 3-column batch are count-ambiguous for max
    # (a null cell might be an explicit-null KEY) but {} fails min only if
    # even the all-keys reading falls short — here ncols=3 >= 1, so {} is
    # ambiguous on min too -> walks; the 3-key row still fast-rejects
    rows = [json.dumps({"a": 1, "b": 2, "c": 3}), json.dumps({})]
    valid, invalid = screen_batch(pd.Series(rows * 2, dtype=object), plan)
    assert invalid[0] and invalid[2] and not valid.any()
    assert not invalid[1] and not invalid[3]
    # walk parity
    pool = [{}, {"a": 1}, {"a": 1, "b": 2}, {"a": 1, "b": 2, "c": 3},
            {"a": None}, {"a": None, "b": 1}]
    for seed in range(20):
        rng = random.Random(8100 + seed)
        s = pd.Series([json.dumps(rng.choice(pool)) for _ in range(40)],
                      dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


def test_malformed_property_names_schema_falls_back():
    """A propertyNames schema whose evaluation raises data-independently
    (uncompilable pattern) must make the PLAN ineligible — the screen may
    never crash a batch the walk would verdict normally.  (Rows that reach
    the keyword make the walk itself raise, matching the reference's
    behavior on malformed regexes — that path stays a raise.)"""
    bad = {"type": "object", "required": ["k"],
           "propertyNames": {"pattern": "("}}
    data = Schema(bad).data
    assert plan_screen(data) is None
    # the walk verdicts rows failing `required` first without compiling
    # the bad regex
    assert _issue_record({"a": 1}, data) is not None
    with pytest.raises(Exception):
        _issue_record({"k": 1}, data)


def test_cyclic_schema_plans_fall_back():
    """An inlined recursive $ref makes the schema dict cyclic; the planner
    must return None (walk; the validator raises the reference's documented
    circular-reference error), not crash with RecursionError."""
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    sub = {"allOf": []}
    sub["allOf"].append(sub)
    assert plan_screen({"type": "object", "properties": {"k": sub}}) is None
    dep = {"type": "object"}
    dep["dependencies"] = {"b": dep}
    assert plan_screen(dep) is None
    assert plan_screen_conj({"allOf": [sub]}) is None


@contextlib.contextmanager
def _recursion_limit(limit):
    """Pin the interpreter's recursion limit (a fresh worker's default) so
    "too deep" does not depend on what else raised it in this process."""
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(limit)
    try:
        yield
    finally:
        sys.setrecursionlimit(old)


def test_screen_refuses_deeply_nested_batches():
    """A batch whose parsed type nests past the screen's depth bound walks
    whole: the walk fails rows past the recursion limit closed, and the
    screen must not keep such a row valid in a batch of its own."""
    schema = Schema({"type": "object", "properties": {"k": {"type": "array"}}})
    plan = plan_screen(schema.data)

    def nested(depth):
        return pd.Series(['{"k": ' + "[" * depth + "]" * depth + "}", '{"k": []}'])

    assert screen_batch(nested(100), plan) is not None
    assert screen_batch(nested(200), plan) is None
    with _recursion_limit(1000):
        out = _gate_rows(nested(5000), schema.data, plan, verdict_only=True)
    assert list(out["reason"]) == ["json", None]


def test_nests_deeper_bound_counts_every_level():
    """`_nests_deeper` counts each field, list and leaf type as one level,
    and walks an arbitrarily deep type without recursing."""
    import pyarrow as pa

    from jsonschema_jl_spark.gate.columnar import _MAX_SCREEN_DEPTH, _nests_deeper

    def lists(n):  # field k: n nested lists around a null leaf = n + 1 levels
        t = pa.null()
        for _ in range(n):
            t = pa.list_(t)
        return pa.schema([("k", t)])

    def structs(n):  # field k: n nested one-field structs, then an int leaf
        t = pa.int64()
        for _ in range(n):
            t = pa.struct([("x", t)])
        return pa.schema([("k", t), ("flat", pa.string())])

    assert not _nests_deeper(lists(2), 3) and _nests_deeper(lists(3), 3)
    assert not _nests_deeper(structs(2), 3) and _nests_deeper(structs(3), 3)
    lim = _MAX_SCREEN_DEPTH
    assert not _nests_deeper(lists(lim - 1), lim)
    assert _nests_deeper(lists(lim), lim)
    assert _nests_deeper(lists(3000), lim)
    assert not _nests_deeper(pa.schema([]), 1)


def test_walk_recursion_error_fails_only_its_row():
    """Without a screen plan, a document that parses but recurses the walk
    past the interpreter's limit (recursive `$ref`) gets a `json` issue in
    full-detail mode, and its batchmates keep their exact verdicts."""
    schema = Schema({
        "definitions": {"a": {"type": "array", "items": {"$ref": "#/definitions/a"}}},
        "type": "object",
        "properties": {"k": {"$ref": "#/definitions/a"}},
    })
    deep = '{"k": ' + "[" * 700 + "]" * 700 + "}"
    with _recursion_limit(1000):
        out = _gate_rows(pd.Series([deep, '{"k": [[]]}', '{"k": 5}']), schema.data, None)
    assert list(out["reason"]) == ["json", None, "type"]
    assert "nesting depth" in out["value"][0]


# the benchmark intake column's five malformed shapes (perfbench/inputs.py)
_MALFORMED_ROWS = ['{"k": 7', '{"k": }', '{k: 7}', '{"k": 7,}', "not json"]
# numbers float64 cannot carry exactly: ±(2^53+1), and an int beyond int64
# (pyarrow turns the whole column to double)
_INEXACT_ROWS = ['{"k": 9007199254740993}', '{"k": -9007199254740993}',
                 '{"k": 18446744073709551617}']


def _assert_walk_parity(s: pd.Series, data, plan) -> None:
    for verdict_only in (False, True):
        pd.testing.assert_frame_equal(
            _gate_rows(s, data, plan, verdict_only=verdict_only),
            _gate_rows(s, data, None, verdict_only=verdict_only),
        )


def test_screen_isolates_defective_rows():
    """A batch of clean rows plus one row of each defect: only the
    defective rows walk, every clean row is decided, and the verdicts equal
    the pure walk in both modes."""
    data = Schema(FLAT).data
    plan = plan_screen(data)
    clean = [json.dumps({"k": k}) for k in range(0, 100, 3)]
    defects = _MALFORMED_ROWS + _INEXACT_ROWS
    rows = clean[:10] + defects + clean[10:]
    is_defect = np.array([r in defects for r in rows])
    masks = screen_batch(pd.Series(rows, dtype=object), plan)
    assert masks is not None
    valid, invalid = masks
    assert not (valid & invalid).any()
    np.testing.assert_array_equal(~(valid | invalid), is_defect)
    _assert_walk_parity(pd.Series(rows, dtype=object), data, plan)


def test_screen_masks_double_rounded_integers():
    """A JSON integer 2^53+1 in a column another row made double reads as
    2^53 exactly; it walks, so `maximum: 2^53` fails it as the walk does."""
    data = Schema({"type": "object",
                   "properties": {"k": {"type": "number", "maximum": 2 ** 53}}}).data
    plan = plan_screen(data)
    s = pd.Series(['{"k": 1.5}', '{"k": 9007199254740993}', '{"k": 9007199254740992}'])
    valid, invalid = screen_batch(s, plan)
    assert valid[0] and not valid[1] and not invalid[1]
    assert list(_gate_rows(s, data, plan)["reason"]) == [None, "maximum", None]
    _assert_walk_parity(s, data, plan)


@pytest.mark.parametrize("odd", [
    '{"k": 50, "k": 5}',                            # duplicate keys
    '{"k": Infinity}',                              # not JSON; pyarrow reads inf
    '{"k": ' + "[" * 5000 + "]" * 5000 + "}",       # past the recursion limit
    '{"k": "fifty"}',                               # the column changes type
])
def test_screen_odd_rows_keep_walk_verdicts(odd):
    """Rows the two parsers disagree on walk, whether the screen isolates
    them or refuses their batch whole."""
    data = Schema(FLAT).data
    plan = plan_screen(data)
    clean = [json.dumps({"k": k}) for k in (5, 20, 50, 95)]
    for rows in ([odd] + clean, clean + [odd], clean[:2] + [odd, odd] + clean[2:]):
        s = pd.Series(rows, dtype=object)
        with _recursion_limit(1000):
            masks = screen_batch(s, plan)
            if masks is not None:
                valid, invalid = masks
                assert not any(valid[i] or invalid[i]
                               for i, r in enumerate(rows) if r == odd)
            _assert_walk_parity(s, data, plan)


def test_screen_proves_absent_keys():
    """A null top-level cell in a row whose text holds no `null` literal is
    an absent key: the optional `tag` is satisfied, so only the first row
    is decided; an explicit null, or a `null` inside a string, walks."""
    data = Schema({
        "type": "object", "required": ["k"],
        "properties": {"k": {"type": "integer"},
                       "tag": {"type": "string", "minLength": 5}},
    }).data
    plan = plan_screen(data)
    rows = ['{"k": 2}', '{"k": 2, "tag": null}', '{"k": 2, "note": "nullable"}']
    s = pd.Series(rows, dtype=object)
    valid, invalid = screen_batch(s, plan)
    assert list(valid) == [True, False, False] and not invalid.any()
    _assert_walk_parity(s, data, plan)
    # a proven-absent REQUIRED key is definitively invalid
    req = Schema({"type": "object", "required": ["tag"],
                  "properties": {"tag": {"type": ["string", "null"]}}}).data
    valid, invalid = screen_batch(s, plan_screen(req))
    assert list(invalid) == [True, False, False] and not valid.any()
    _assert_walk_parity(s, req, plan_screen(req))


def test_screen_decides_every_combo_row():
    """The contract's combo docs (tag-less even ids) are decided in full:
    the absent `tag` is proven per row, so no row walks."""
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    path = os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("entry_combo", path)
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    data = Schema(entry._COMBO_SCHEMA).data
    plan = plan_screen_conj(data)
    rows = [json.dumps({"k": i} if i % 2 == 0 else {"k": i, "tag": "click"})
            for i in range(100)]
    s = pd.Series(rows, dtype=object)
    valid, invalid = screen_batch(s, plan)
    assert (valid | invalid).all()
    _assert_walk_parity(s, data, plan)


def test_walk_digit_limit_fails_only_its_row():
    """An integer literal past the interpreter's int digit limit makes
    json.loads raise a plain ValueError: that row fails closed with a
    `json` issue, with or without a screen plan, in both modes."""
    data = Schema(FLAT).data
    s = pd.Series(['{"k": 20}', '{"k": 1' + "0" * 5000 + "}", '{"k": 5}'])
    for plan in (None, plan_screen(data)):
        for verdict_only in (False, True):
            out = _gate_rows(s, data, plan, verdict_only=verdict_only)
            assert out["reason"][0] is None and out["reason"][1] == "json"
            assert "digit limit" in out["value"][1]
            assert out["reason"][2] is not None


def test_screen_dependencies_both_forms():
    dep_keys = {"type": "object", "dependencies": {"b": ["a"]}}
    data = Schema(dep_keys).data
    plan = plan_screen(data)
    assert plan is not None
    for row, want in [({"a": 1, "b": 2}, True), ({"a": 1}, True),
                      ({}, True)]:
        assert (_issue_record(row, data) is None) == want, row
        valid, invalid = screen_batch(
            pd.Series([json.dumps(row)] * 3, dtype=object), plan)
        assert valid.all() and not invalid.any(), row
    # b present, a column entirely missing -> definitive reject
    row = {"b": 2}
    assert _issue_record(row, data) is not None
    valid, invalid = screen_batch(
        pd.Series([json.dumps(row)] * 3, dtype=object), plan)
    assert invalid.all() and not valid.any()

    dep_schema = {"type": "object",
                  "dependencies": {"b": {"properties": {"a": {"maximum": 25}}}}}
    sdata = Schema(dep_schema).data
    splan = plan_screen(sdata)
    assert splan is not None
    for row, want in [({"a": 10, "b": 1}, True), ({"a": 30, "b": 1}, False),
                      ({"a": 30}, True), ({"b": 1}, True)]:
        assert (_issue_record(row, sdata) is None) == want, row
        masks = screen_batch(
            pd.Series([json.dumps(row)] * 3, dtype=object), splan)
        assert masks is not None, row
        valid, invalid = masks
        if want:
            assert valid.all() and not invalid.any(), row
        else:
            assert not valid.any() and invalid.all(), row
    # walk parity over mixed batches (nulls included)
    pool = [{"a": 10, "b": 1}, {"a": 30, "b": 1}, {"a": 30}, {"b": 1}, {},
            {"a": None, "b": 1}, {"b": None}]
    for data_, plan_ in ((data, plan), (sdata, splan)):
        for seed in range(20):
            rng = random.Random(9400 + seed)
            s = pd.Series([json.dumps(rng.choice(pool)) for _ in range(40)],
                          dtype=object)
            fast = _gate_rows(s, data_, plan_)
            slow = _gate_rows(s, data_, None)
            pd.testing.assert_frame_equal(fast, slow)


def test_gate_metrics_accumulators(spark):
    """GateMetrics counts the screen/walk split across executors: on the
    bench events shape every row is screen-decided (valid or fast-reject),
    and the counters sum to the scanned row count."""
    from jsonschema_jl_spark.gate.gate import GateMetrics, gate_filter, apply_gate

    clean = spark.createDataFrame(
        [(json.dumps({"k": k}),) for k in range(200)], "props string"
    )
    m = GateMetrics(spark)
    assert gate_filter(clean, FLAT, json_col="props", metrics=m).count() == 81
    d = m.as_dict()
    assert d["screened_valid"] == 81
    assert d["screened_invalid"] == 119  # definitive range misses fast-reject
    assert d["walked"] == 0 and d["fallback_rows"] == 0
    assert d["screen_rate"] == 1.0

    # full-detail mode: invalid rows need the exact issue -> they walk
    m2 = GateMetrics(spark)
    out = apply_gate(clean, FLAT, json_col="props", metrics=m2)
    assert out.filter("isvalid").count() == 81
    d2 = m2.as_dict()
    assert d2["screened_valid"] == 81 and d2["screened_invalid"] == 0
    assert d2["walked"] == 119

    # a row that LOOKS like an object but fails to parse walks alone: its
    # innocent batchmates stay on the screen, and no batch is refused whole
    poisoned = spark.createDataFrame(
        [(json.dumps({"k": k}),) for k in range(200)] + [("{not json",)] * 8,
        "props string",
    )
    m3 = GateMetrics(spark)
    assert gate_filter(poisoned, FLAT, json_col="props", metrics=m3).count() == 81
    d3 = m3.as_dict()
    assert d3["walked"] == 8 and d3["fallback_rows"] == 0
    assert d3["screened_valid"] == 81 and d3["screened_invalid"] == 119


def test_dynamic_native_keyword_selects_nothing(spark):
    """`gate_filter(dynamic_native=True)` runs the same screen + walk as the
    default call: same kept rows, and GateMetrics counts every row."""
    from jsonschema_jl_spark.gate.gate import GateMetrics, gate_filter

    clean = spark.createDataFrame(
        [(json.dumps({"k": k}),) for k in range(200)], "props string"
    )
    runs = []
    for flag in (False, True):
        m = GateMetrics(spark)
        kept = sorted(
            r.props
            for r in gate_filter(
                clean, FLAT, json_col="props", metrics=m, dynamic_native=flag
            ).collect()
        )
        runs.append((kept, m.as_dict()))
    assert runs[0] == runs[1]
    kept, d = runs[1]
    assert len(kept) == 81
    assert d["screened_valid"] + d["screened_invalid"] + d["walked"] == 200


def test_dup_keys_and_huge_ints_walk_exactly(spark):
    """Rows the screen cannot vouch for walk, and their verdicts are exact:
    duplicate keys resolve last-wins, and 2^53+1 is judged as the exact
    integer, not as its float64 neighbour 2^53.  An integer beyond 2^53
    walks alone while its batchmates stay screened; pyarrow refuses a
    duplicate-key row even after the per-row probe accepts it, so its batch
    walks whole."""
    from jsonschema_jl_spark.gate.gate import GateMetrics, gate_filter

    cap = {"type": "object", "properties": {"k": {"type": "integer", "maximum": 2**53}}}
    cases = [
        # (schema, rows, kept ids, ids the screen refuses even alone,
        #  whether their batch walks whole)
        (FLAT, [(1, '{"k": 9, "k": 50}'),        # dup keys, last-wins valid
                (2, '{"k": 50, "k": 9}'),        # dup keys, last-wins invalid
                (3, '{"k": 50}')], {1, 3}, {1, 2}, True),
        (cap, [(1, '{"k": 9007199254740993}'),   # 2^53+1: above the cap
               (2, '{"k": 9007199254740992}'),   # 2^53: at the cap
               (3, '{"k": -9007199254740993}')], {2, 3}, {1, 3}, False),
    ]
    for schema, rows, expect, refused, whole in cases:
        df = spark.createDataFrame(rows, "id long, js string").repartition(1)
        m = GateMetrics(spark)
        kept = {r.id for r in gate_filter(df, schema, json_col="js", metrics=m).collect()}
        assert kept == expect, (schema, kept)
        plan = plan_screen(Schema(schema).data)
        assert plan is not None
        masks = screen_batch(pd.Series([js for _, js in rows]), plan)
        d = m.as_dict()
        if whole:
            assert masks is None
            # however Spark batches the rows, each dup-key row's batch walks
            assert d["walked"] == d["fallback_rows"] >= 2, (schema, d)
        else:
            # in one batch, exactly the refused rows are left undecided
            valid, invalid = masks
            assert [bool(v or x) for v, x in zip(valid, invalid)] == \
                [i not in refused for i, _ in rows], schema
            assert d["walked"] == 2 and d["fallback_rows"] == 0, (schema, d)
        # each refused row walks even when Spark hands it over alone
        for i, js in rows:
            if i in refused:
                masks = screen_batch(pd.Series([js]), plan)
                assert masks is None if whole else \
                    not (masks[0][0] or masks[1][0]), js
        assert d["screened_valid"] + d["screened_invalid"] + d["walked"] == 3, d


def test_screen_ignores_unread_columns():
    """Values of a column no plan reads are never judged, so a 64-bit id, a
    double of 1e20 or a `[null, ...]` list there keeps its row decided."""
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    for data in (Schema(FLAT).data,
                 Schema({"type": "object", "anyOf": [FLAT]}).data):
        plan = plan_screen_conj(data)
        assert plan is not None
        rows = [
            '{"id": %d, "k": 20}' % (2 ** 60 + 1),
            '{"id": -%d, "k": 5}' % (2 ** 60 + 1),
            '{"id": 1e20, "k": 50, "xs": [null, null]}',
            '{"k": 95, "xs": [null]}',
        ]
        s = pd.Series(rows, dtype=object)
        valid, invalid = screen_batch(s, plan)
        assert list(valid) == [True, False, True, False]
        assert list(invalid) == [False, True, False, True]
        _assert_walk_parity(s, data, plan)
    # a patternProperties subschema judges every column, so there the
    # 64-bit id walks
    pat = Schema({"type": "object", "properties": FLAT["properties"],
                  "patternProperties": {"^i": {"type": "integer"}}}).data
    plan = plan_screen(pat)
    s = pd.Series(rows[:2] + ['{"id": 7, "k": 20}'], dtype=object)
    valid, invalid = screen_batch(s, plan)
    assert not (valid[0] or invalid[0] or valid[1] or invalid[1]) and valid[2]
    _assert_walk_parity(s, pat, plan)


def test_digit_limit_row_fails_closed(spark):
    """A row whose integer literal is past the interpreter's int digit
    limit is rejected on its own row by both entry points; the task runs."""
    from jsonschema_jl_spark.gate.gate import apply_gate, gate_filter

    huge = '{"k": 1' + "0" * 5000 + "}"
    df = spark.createDataFrame(
        [(1, '{"k": 20}'), (2, huge), (3, '{"k": 5}')], "id long, js string"
    ).repartition(1)
    assert {r.id for r in gate_filter(df, FLAT, json_col="js").collect()} == {1}
    issues = {r.id: r.issue for r in apply_gate(df, FLAT, json_col="js").collect()}
    assert issues[1] is None
    assert issues[2].reason == "json" and "digit limit" in issues[2].value
    assert issues[3].reason == "minimum"


# ---------------------------------------------------------------------------
# property-based screen-vs-walk soundness: ARBITRARY schemas (screenable or
# not) x ARBITRARY row batches.  The invariant under test is the module's
# two-sided soundness contract, with no assumption that the generator stays
# inside the screenable grammar — ineligible schemas must plan to None (not
# crash), and whenever a plan exists and a batch engages, every
# certainly-valid row must be walk-valid and every certainly-invalid row
# walk-invalid.

from hypothesis import given, settings, strategies as st

_H_SCALARS = st.one_of(
    st.integers(min_value=-(2 ** 60), max_value=2 ** 60),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(alphabet="abcXYZ019 .~", max_size=12),
    st.booleans(),
    st.none(),
)
_H_VALUES = st.one_of(
    _H_SCALARS,
    st.lists(_H_SCALARS, max_size=4),
    st.dictionaries(st.sampled_from(["w", "fmt", "z"]), _H_SCALARS, max_size=3),
    # lists of records, matching the array-of-objects items the schema
    # generator can now draw
    st.lists(
        st.dictionaries(st.sampled_from(["w", "fmt"]), _H_SCALARS, max_size=2),
        max_size=3,
    ),
)


@st.composite
def _h_subschema(draw):
    sub: dict = {}
    t = draw(st.sampled_from(
        [None, "integer", "number", "string", "boolean", "array", "object",
         ["string", "null"], ["integer", "boolean"]]
    ))
    if t is not None:
        sub["type"] = t
    if draw(st.booleans()):
        sub["minimum"] = draw(st.integers(min_value=-100, max_value=50))
    if draw(st.booleans()):
        sub["maximum"] = draw(st.integers(min_value=0, max_value=100))
    if draw(st.booleans()):
        sub["minLength"] = draw(st.integers(min_value=0, max_value=4))
    if draw(st.booleans()):
        sub["pattern"] = draw(st.sampled_from(["^a", "b$", "[0-9]+", "^$"]))
    if draw(st.booleans()):
        sub["enum"] = draw(st.lists(_H_SCALARS, min_size=1, max_size=4))
    if draw(st.booleans()):
        sub["const"] = draw(_H_SCALARS)
    if draw(st.booleans()):
        sub["multipleOf"] = draw(st.sampled_from([2, 3, 0.1, 0.25, 0, True]))
    comb = draw(st.sampled_from([None, None, "allOf", "anyOf", "oneOf", "not", "ite"]))
    member = st.sampled_from([
        {"type": "integer"}, {"type": "string"}, {"minimum": 10},
        {"maximum": 40}, {"minLength": 2}, {"enum": [1, "a", None]},
        {"const": 5}, {},
    ])
    if comb == "not":
        sub["not"] = draw(member)
    elif comb == "ite":
        sub["if"] = draw(member)
        if draw(st.booleans()):
            sub["then"] = draw(member)
        if draw(st.booleans()):
            sub["else"] = draw(member)
    elif comb:
        sub[comb] = draw(st.lists(member, min_size=1, max_size=3))
    if t == "array" and draw(st.booleans()):
        sub["items"] = draw(st.sampled_from([
            {"type": "integer"}, {"type": "string"},
            {"type": "object", "required": ["w"],
             "properties": {"w": {"type": "integer", "minimum": 1}}},
        ]))
        if draw(st.booleans()):
            sub["minItems"] = draw(st.integers(min_value=0, max_value=3))
        if draw(st.booleans()):
            sub["uniqueItems"] = draw(st.booleans())
        if draw(st.booleans()):
            sub["contains"] = {"minimum": 5}
    if t == "object" and draw(st.booleans()):
        sub["properties"] = {"w": {"type": "integer", "minimum": 1}}
        if draw(st.booleans()):
            sub["required"] = ["w"]
    return sub


@st.composite
def _h_case(draw):
    names = draw(st.lists(st.sampled_from(["k", "name", "n", "tag"]),
                          min_size=1, max_size=3, unique=True))
    schema = {
        "type": "object",
        "properties": {nm: draw(_h_subschema()) for nm in names},
    }
    req = draw(st.lists(st.sampled_from(names + ["extra_req"]),
                        max_size=2, unique=True))
    if req:
        schema["required"] = req
    rows = draw(st.lists(
        st.dictionaries(st.sampled_from(names + ["other"]), _H_VALUES,
                        max_size=4),
        min_size=1, max_size=12,
    ))
    return schema, rows


def _assert_screen_sound(schema, rows):
    data = Schema(schema).data
    plan = plan_screen(data)  # must never raise, screenable or not
    if plan is None:
        return
    s = pd.Series([json.dumps(r) for r in rows], dtype=object)
    masks = screen_batch(s, plan)
    if masks is None:
        return
    valid, invalid = masks
    assert not (valid & invalid).any()
    for i in np.flatnonzero(valid):
        assert _issue_record(rows[i], data) is None, (schema, rows[i])
    for i in np.flatnonzero(invalid):
        assert _issue_record(rows[i], data) is not None, (schema, rows[i])


@settings(max_examples=150, deadline=None)
@given(_h_case())
def test_screen_soundness_hypothesis(case):
    _assert_screen_sound(*case)


# per-row defects spliced into generated batches: parse failures, numbers
# beyond float64's exact range, duplicate keys, NaN/Infinity, explicit
# nulls and `null` inside strings ({nm} is one of the schema's names)
_H_ROW_DEFECTS = [
    '{{"{nm}": 7', '{{"{nm}": }}', '{{{nm}: 7}}', '{{"{nm}": 7,}}', "not json",
    '{{"{nm}": 9007199254740993}}', '{{"{nm}": -9007199254740993}}',
    '{{"{nm}": 18446744073709551617}}', '{{"{nm}": [9007199254740993]}}',
    '{{"{nm}": {{"w": -9007199254740993}}}}', '{{"{nm}": 1, "{nm}": "a"}}',
    '{{"{nm}": Infinity}}', '{{"{nm}": NaN}}', '{{"{nm}": null}}',
    '{{"{nm}": "null"}}', '{{"other": "nullable"}}', "{{}}",
]


@st.composite
def _h_defect_case(draw):
    schema, rows = draw(_h_case())
    texts = [json.dumps(r) for r in rows]
    names = list(schema["properties"])
    for _ in range(draw(st.integers(min_value=1, max_value=4))):
        row = draw(st.sampled_from(_H_ROW_DEFECTS)).format(nm=draw(st.sampled_from(names)))
        texts.insert(draw(st.integers(min_value=0, max_value=len(texts))), row)
    return schema, texts


@settings(max_examples=150, deadline=None)
@given(_h_defect_case())
def test_screen_walk_parity_with_row_defects_hypothesis(case):
    """Screen + walk equals the pure walk on every row of a batch holding
    per-row defects, in verdict-only and full-detail modes."""
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    schema, texts = case
    data = Schema(schema).data
    _assert_walk_parity(pd.Series(texts, dtype=object), data, plan_screen_conj(data))


# signed zero: the walk compares numbers (-0.0 == 0), so the screen's
# hash-based enum/const membership must not tell the two zeros apart
@pytest.mark.parametrize("schema, rows", [
    ({"properties": {"k": {"const": -0.0}}}, [{"k": 0}]),
    ({"properties": {"k": {"const": -0.0}}}, [{"k": 0.0}]),
    ({"properties": {"k": {"enum": [0]}}}, [{"k": -0.0}]),
])
def test_screen_soundness_signed_zero(schema, rows):
    _assert_screen_sound(schema, rows)
    s = pd.Series([json.dumps(r) for r in rows], dtype=object)
    masks = screen_batch(s, plan_screen(Schema(schema).data))
    assert masks is not None and masks[0].all()


# ---------------------------------------------------------------------------
# deep-equality enum/const over array/object values (round-5 ask #7)
# ---------------------------------------------------------------------------

DEEP_ENUM = {
    "type": "object",
    "required": ["v"],
    "properties": {
        "v": {"enum": [[1, 2], {"a": 1}, "x", 3, [1, True], [1, 1.0],
                       {"a": [1, {"b": None}]}]},
    },
}

DEEP_CONST = {
    "type": "object",
    "properties": {"v": {"type": "array", "const": [1, [2, "x"], None]}},
}


def test_deep_enum_plan_compiles():
    for schema in (DEEP_ENUM, DEEP_CONST):
        plan = plan_screen(Schema(schema).data)
        assert plan is not None
        assert plan["v"][4][0] == "deep_enum"
    # sibling keywords beyond type keep the property on the walk
    assert plan_screen({"properties": {"v": {"enum": [[1]], "minItems": 1}}}) is None
    # entries with >2^53 numbers walk (canonical key encodes floats)
    assert plan_screen({"properties": {"v": {"enum": [[2 ** 60]]}}}) is None


def _deep_rows(rng: random.Random, n: int) -> list:
    vals = [
        "[1, 2]", "[2, 1]", "[1, 2, 3]", "[1]", "[]",
        '{"a": 1}', '{"a": 2}', '{"a": 1, "b": 2}', "{}",
        '"x"', '"y"', "3", "3.0", "2.9", "true",
        "[1, true]", "[1, 1.0]", "[1, 1]",
        '{"a": [1, {"b": null}]}', '{"a": [1, {"b": 1}]}',
        '{"a": null}',                        # null field: ambiguous, walks
        "[null]", "null",
        "[9007199254740993]",                  # 2^53+1 int: walks
        '[1, [2, "x"], null]', '[1, [2, "x"]]',
    ]
    rows = []
    for _ in range(n):
        r = rng.randrange(12)
        if r == 0:
            rows.append(None)
        elif r == 1:
            rows.append("{}")
        else:
            rows.append('{"v": %s}' % rng.choice(vals))
    return rows


@pytest.mark.parametrize("schema", [DEEP_ENUM, DEEP_CONST])
def test_deep_enum_screen_vs_walk(schema):
    data = Schema(schema).data
    plan = plan_screen(data)
    assert plan is not None
    for seed in range(25):
        rng = random.Random(3200 + seed)
        s = pd.Series(_deep_rows(rng, 60), dtype=object)
        fast = _gate_rows(s, data, plan)
        slow = _gate_rows(s, data, None)
        pd.testing.assert_frame_equal(fast, slow)


def test_deep_enum_decided_rate():
    """Most homogeneous deep-enum batches decide columnar-ly; only genuine
    ambiguities (dict-valued None, >2^53 ints) walk."""
    data = Schema(DEEP_ENUM).data
    plan = plan_screen(data)
    # type-homogeneous batch (mixed list element types abort the pyarrow
    # parse and the whole batch walks — same rule as scalar columns)
    rows = ['{"v": [1, 2]}', '{"v": [2, 1]}', '{"v": [1, 1.0]}',
            '{"v": [9, 9]}', '{"v": [1, 1]}'] * 40
    s = pd.Series(rows, dtype=object)
    masks = screen_batch(s, plan)
    assert masks is not None
    valid, invalid = masks
    decided = (valid | invalid).mean()
    assert decided == 1.0, decided
    # [1,2], [1,1.0] and [1,1] (1 == 1.0 deep) match entries; [2,1], [9,9] not
    assert valid.sum() == 3 * 40 and invalid.sum() == 2 * 40


def test_deep_enum_verdicts_exact():
    """Canonical-key equality reproduces json_equal's corners: bool is not
    number ([1,true] != [1,1]), 1 == 1.0, object key-set equality."""
    data = Schema(DEEP_ENUM).data
    rows = [
        ('{"v": [1, 2]}', True),
        ('{"v": [2, 1]}', False),        # order matters
        ('{"v": [1, 1.0]}', True),       # entry [1, 1.0]
        ('{"v": [1, 1]}', True),         # 1 == 1.0 deep equality
        ('{"v": [1, true]}', True),      # exact entry
        ('{"v": [1, false]}', False),
        ('{"v": 3}', True),
        ('{"v": 3.0}', True),            # 3 == 3.0
        ('{"v": true}', False),          # bool != number 3... and not an entry
        ('{"v": {"a": 1}}', True),
        ('{"v": {"a": 1.0}}', True),
        ('{"v": {"a": 1, "b": 2}}', False),
        ('{"v": {}}', False),
    ]
    plan = plan_screen(data)
    s = pd.Series([r for r, _ in rows], dtype=object)
    fast = _gate_rows(s, data, plan)
    slow = _gate_rows(s, data, None)
    pd.testing.assert_frame_equal(fast, slow)
    for (doc, want_valid), reason in zip(rows, fast["reason"].tolist()):
        assert (reason is None) == want_valid, (doc, reason)
