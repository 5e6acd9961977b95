"""Columnar screening pre-pass for the dynamic-JSON gate.

The dynamic gate's exact backend is a per-row dict-tree walk (json.loads +
keyword dispatch) — correct but the slowest kernel per core in the engine.
For common object schemas — type/required/properties with scalar keyword
checks (incl. multipleOf, union type lists, and scalar-level
allOf/anyOf/oneOf/not/if-then-else), array-of-scalar
`items`/`minItems`/`maxItems`/`contains`/`uniqueItems` (items may be a
one-level object schema), one-level nested `properties` (fields may be
arrays of scalars), object-level `additionalProperties` /
`patternProperties` / `propertyNames` / `minProperties` / `maxProperties`
/ `dependencies` (the parsed column set is the key universe), and top-level allOf/anyOf/oneOf/not/if-then-else of such
schemas, all evaluated over ONE parse — this module screens Arrow batches
columnar-ly:

  1. the batch's JSON texts are parsed ONCE by pyarrow.json.read_json
     (C++, simdjson-class throughput) into a columnar table;
  2. each planned property runs vectorized checks (pyarrow.compute /
     numpy) over its column — list columns flatten once and run the scalar
     element checks over the flat values; struct columns run them per field;
  3. rows the screen proves CERTAINLY VALID get a NULL issue with no Python
     per-row work; rows it proves CERTAINLY INVALID can — in verdict-only
     consumers like `gate_filter`, where the issue struct is dropped — skip
     the walk too; every other row falls back to the exact dict-walk.

Soundness contract, both directions: the screen may only declare a row
valid (resp. invalid) when the exact validator would — any ambiguity
(parse surprises, unhandled column types, absent-vs-null when the two
verdicts differ, numeric magnitude beyond float64's exact-integer range,
enum corner cases) routes the row (or whole batch) to the dict walk.  The
invalid mask is only consumed where the caller needs no issue detail; a
certainly-invalid bit requires a DEFINITIVE keyword failure (wrong-typed
present value, out-of-range number, length/pattern/enum miss, a required
field whose null-AND-absent interpretations are both invalid, or a
required column entirely missing from the parsed batch).  False
"maybe-invalid"/"maybe-valid" verdicts cost only time; the walk recomputes
them exactly, including the precise first-failure issue.  Verdict-changing
bugs are therefore only possible as false-valids or false-invalids, which
the conformance suite + differential fuzz (tests/test_gate_*) and the
dedicated screen-vs-walk differentials (tests/test_gate_columnar.py, both
modes) guard.

The screen decides rows, not batches.  A row that breaks the batch's parse
is isolated (a per-row stdlib-scanner probe, then one re-parse of the
rest), a row holding a number float64 cannot carry exactly leaves the
parsed table, and both walk alone while their batchmates stay screened.
A row whose raw text holds no `null` literal (the literal has no escaped
form) has no explicit null, so each of its null top-level cells is an
absent key: an optional property is satisfied, a required one fails.

Known pyarrow.json behaviors relied on (probed on pyarrow 16, see tests):
  * duplicate keys, mixed-type columns, non-object rows, malformed text,
    blank interior lines -> batch-level ArrowInvalid => rows the stdlib
    scanner rejects walk and the rest parse again; a re-parse that still
    fails (duplicate keys, mixed-type columns) walks the whole batch;
  * ints beyond int64 silently become double, as do all ints of a column
    holding any double; NaN/Infinity parse to non-finite doubles => rows
    with a number beyond +-2^53 (ints) or from 2^53 up (doubles, where
    2^53+1 has rounded to 2^53), or non-finite, in a column the plan
    reads, are filtered out and walk;
  * ISO-date-like strings are inferred as timestamp => the original JSON
    value WAS a string, so type/length/pattern can't be judged from the
    inferred column => fallback;
  * nested objects parse as struct columns whose field set is the UNION of
    keys across rows — a field missing from the struct TYPE is proven
    absent in every row, while a null field cell is absent-OR-null (same
    ambiguity as a top-level null, resolved the same way);
  * arrays parse as list columns; a null list slot is absent-OR-null; null
    ELEMENTS inside a list are genuine JSON nulls (no absent reading).
"""

from __future__ import annotations

import io
import json
import re
from typing import Any

import numpy as np
import pandas as pd

_MAX_EXACT = 2 ** 53  # float64 exact-integer range

_ALLOWED_TOP = {
    "type", "required", "properties",
    "additionalProperties", "patternProperties", "propertyNames",
    "minProperties", "maxProperties", "dependencies",
}
# non-string plan key carrying the object-level extras (JSON property names
# are strings, so this can never collide with a real property entry).  A
# CLASS object, not object(): classes pickle by module reference, so the
# key keeps its identity when the UDF closure ships the plan to executors
# (a bare object() unpickles to a NEW instance and `is` checks break).
class _EXTRAS:
    pass
# multipleOf's isapprox tolerance, exactly the walk's (validator._multiple_of)
_MULT_RTOL = 1.4901161193847656e-08  # sqrt(float64 eps)
# batches holding a document nested deeper than this walk instead: the walk
# fails such rows closed past the recursion limit, so the screen must not
# vouch for them in one batch while another batch rejects them
_MAX_SCREEN_DEPTH = 128
_ALLOWED_KW = {
    "type", "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
    "minLength", "maxLength", "pattern", "enum", "const", "multipleOf",
    # scalar-level combinators of screenable scalar members (recursive):
    # every member keyword is screened, so ~bad over a PRESENT value is a
    # DEFINITIVE pass — which makes each combinator's verdict definitive:
    # allOf fails iff any member fails, anyOf iff all fail, oneOf iff the
    # pass count != 1, `not` iff the member passes, if/then/else by the
    # truth table over definitive if-verdicts
    "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
}
_COMBINATORS = ("allOf", "anyOf", "oneOf", "not", "if")
# array-of-scalar and one-level-nested-object property subschemas are also
# screenable (round-4 extension): pyarrow parses them into list / struct
# columns whose element/field checks reuse the scalar kernel
_ALLOWED_KW_ARRAY = {
    "type", "items", "minItems", "maxItems", "contains", "uniqueItems",
}
_ALLOWED_KW_OBJECT = {"type", "required", "properties"}
_SCALAR_TYPES = {"integer", "number", "string", "boolean"}
# members admissible in a `type` UNION list for the scalar kernel: the
# value's JSON type is read off the parsed column type, so membership is
# definitive for every present value and for nulls (_null_invalid)
_UNION_TYPES = {"integer", "number", "string", "boolean", "null", "array", "object"}


def _is_exact_number(v: Any) -> bool:
    return (
        isinstance(v, (int, float))
        and not isinstance(v, bool)
        and abs(v) <= _MAX_EXACT
    )


def _enum_of(sub: dict) -> list | None:
    return sub.get("enum", [sub["const"]] if "const" in sub else None)


def _null_invalid(sub: dict) -> bool:
    """Does an explicit JSON null definitively fail this subschema?  (null
    fails any `type` and a None-free enum/const; all other scalar keywords
    apply only to matching primitive types, so null passes them.)  For a
    SCREENABLE subschema this is definitive in both directions, which lets
    combinators compute their null verdict statically from the members."""
    t = sub.get("type")
    if t is not None:
        ts = [t] if isinstance(t, str) else t
        if not (isinstance(ts, list) and "null" in ts):
            return True
    allowed = _enum_of(sub)
    if allowed is not None and not any(e is None for e in allowed):
        return True
    if "allOf" in sub and any(_null_invalid(m) for m in sub["allOf"]):
        return True
    if "anyOf" in sub and all(_null_invalid(m) for m in sub["anyOf"]):
        return True
    if "oneOf" in sub and sum(not _null_invalid(m) for m in sub["oneOf"]) != 1:
        return True
    if "not" in sub and not _null_invalid(sub["not"]):
        return True
    if "if" in sub:
        branch = "then" if not _null_invalid(sub["if"]) else "else"
        if branch in sub and _null_invalid(sub[branch]):
            return True
    return False


def _plan_scalar(sub: dict) -> bool:
    """Eligibility of a scalar subschema for vectorized checking."""
    if set(sub) - _ALLOWED_KW:
        return False
    if "enum" in sub and "const" in sub:
        # both present must BOTH hold; _enum_of collapses to enum alone,
        # which would certify rows valid that the walk fails on const
        return False
    t = sub.get("type")
    if t is not None:
        if isinstance(t, str):
            if t not in _SCALAR_TYPES and t != "null":
                return False  # single "array"/"object" dispatch at the property level
        elif isinstance(t, list):
            if not t or not all(isinstance(x, str) and x in _UNION_TYPES for x in t):
                return False
        else:
            return False  # non-string/list type validates nothing; walk it
    for kw in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"):
        if kw in sub and not _is_exact_number(sub[kw]):
            return False  # incl. draft-4 bool exclusive* forms
    if "multipleOf" in sub and not _is_exact_number(sub["multipleOf"]):
        return False  # bool / non-numeric divisor: the walk no-ops; walk it
    for kw in ("minLength", "maxLength"):
        if kw in sub and (isinstance(sub[kw], bool) or not isinstance(sub[kw], int)):
            return False
    if "pattern" in sub:
        if not isinstance(sub["pattern"], str):
            return False
        try:
            re.compile(sub["pattern"])
        except re.error:
            return False
    allowed = _enum_of(sub)
    if allowed is not None:
        if not isinstance(allowed, list):
            return False
        for e in allowed:
            if isinstance(e, (list, dict)):
                return False
            if isinstance(e, (int, float)) and not isinstance(e, bool) \
                    and not _is_exact_number(e):
                return False
    for kw in ("allOf", "anyOf", "oneOf"):
        if kw in sub:
            members = sub[kw]
            if not isinstance(members, list) or not members:
                return False
            if not all(isinstance(m, dict) and _plan_scalar(m) for m in members):
                return False
    if "not" in sub:
        if not isinstance(sub["not"], dict) or not _plan_scalar(sub["not"]):
            return False
    for kw in ("if", "then", "else"):
        # then/else without if are ignored by the walk; requiring them
        # screenable anyway is merely conservative (extra fallbacks, never
        # a wrong verdict)
        if kw in sub and (not isinstance(sub[kw], dict) or not _plan_scalar(sub[kw])):
            return False
    return True


def _count_int(v: Any) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _deep_entry_ok(e: Any) -> bool:
    """Is a container enum/const entry usable for canonical-key screening?
    Numbers must sit inside the float64-exact range (the canonical key
    encodes numerics as float), keys must be strings."""
    if isinstance(e, bool) or e is None or isinstance(e, str):
        return True
    if isinstance(e, (int, float)):
        return abs(e) <= _MAX_EXACT
    if isinstance(e, list):
        return all(_deep_entry_ok(x) for x in e)
    if isinstance(e, dict):
        return all(
            isinstance(k, str) and _deep_entry_ok(v) for k, v in e.items()
        )
    return False


def _plan_deep_enum(sub: dict):
    """Property-level deep-equality enum/const plan (round-5 ask #7): the
    subschema's enum (or const) contains array/object entries, which the
    scalar kernel cannot screen — but a parsed cell's canonical JSON key
    (validator._canon_key) compares exactly against the entries' keys.
    Admitted only for {type?, enum|const} subschemas; any other sibling
    keyword keeps the property on the walk.  Returns ("deep_enum",
    {"keys", "types"}) or _INELIGIBLE."""
    allowed = _enum_of(sub)
    if allowed is None or not isinstance(allowed, list):
        return _INELIGIBLE
    if not any(isinstance(e, (list, dict)) for e in allowed):
        return _INELIGIBLE  # pure-scalar enums: the scalar kernel's job
    if set(sub) - {"type", "enum", "const"}:
        return _INELIGIBLE
    if "enum" in sub and "const" in sub:
        return _INELIGIBLE
    t = sub.get("type")
    types = None
    if t is not None:
        types = [t] if isinstance(t, str) else t
        if not isinstance(types, list) or not types or not all(
            isinstance(x, str) and x in _UNION_TYPES for x in types
        ):
            return _INELIGIBLE
    if not all(_deep_entry_ok(e) for e in allowed):
        return _INELIGIBLE
    from jsonschema_jl_spark.gate.validator import _canon_key

    return ("deep_enum", {
        "keys": frozenset(_canon_key(e) for e in allowed),
        "types": types,
    })


def _deep_value_ambiguous(v: Any) -> bool:
    """Must this parsed cell walk?  A dict value of None ANYWHERE is
    absent-OR-explicit-null (pyarrow struct columns carry the union of keys
    across rows), and an int beyond 2^53 would collide with a distinct
    entry after the canonical key's float encoding.  Floats are fine: the
    walk's json_equal compares the same float64, and screen_batch has
    already sent rows with a double from 2^53 up (possibly a rounded JSON
    integer) to the walk."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return False
    if isinstance(v, float):
        return False
    if isinstance(v, int):
        return abs(v) > _MAX_EXACT
    if isinstance(v, list):
        return any(_deep_value_ambiguous(x) for x in v)
    if isinstance(v, dict):
        return any(x is None or _deep_value_ambiguous(x) for x in v.values())
    return True  # unexpected parse (Decimal, bytes, ...): walk


def _has_temporal(t) -> bool:
    import pyarrow as pa

    if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_time(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _has_temporal(t.value_type)
    if pa.types.is_struct(t):
        return any(_has_temporal(t.field(i).type) for i in range(t.num_fields))
    return False


def _deep_enum_masks(
    arr, spec: dict, nullm: np.ndarray
) -> tuple[np.ndarray, np.ndarray] | None:
    """(bad, ambiguous) for a deep-equality enum/const property over ANY
    column type.  Cells round-trip through to_pylist and compare by
    canonical key — exact json_equal semantics (bool tagged apart from
    number, 0 == 0.0, deep array/object equality).  None -> batch fallback
    (temporal inference anywhere in the type: the JSON value was a string,
    unjudgeable from the parsed column)."""
    import pyarrow as pa

    from jsonschema_jl_spark.gate.validator import _canon_key, is_json_type

    m = len(arr)
    zeros = np.zeros(m, dtype=bool)
    t = arr.type
    if pa.types.is_null(t):
        return zeros, zeros.copy()
    if _has_temporal(t):
        return None
    present = ~nullm
    vals = arr.to_pylist()
    bad = np.zeros(m, dtype=bool)
    amb = np.zeros(m, dtype=bool)
    keys = spec["keys"]
    types = spec["types"]
    for i in np.flatnonzero(present):
        v = vals[i]
        if _deep_value_ambiguous(v):
            amb[i] = True
            continue
        if types is not None and not any(is_json_type(v, w) for w in types):
            bad[i] = True
            continue
        if _canon_key(v) not in keys:
            bad[i] = True
    return bad, amb


# sentinel distinguishing "not screenable" from legitimate None specs
_INELIGIBLE = object()


def _plan_array_spec(sub: dict, deep: bool):
    """Validate an array-shaped subschema and return its items spec:
    None (no per-element checks), a scalar subschema dict, or
    ("object", nested_fields) for arrays of one-level objects (only when
    `deep` — nesting is capped at one structured level either way round).
    _INELIGIBLE -> the property walks."""
    if set(sub) - _ALLOWED_KW_ARRAY:
        return _INELIGIBLE
    for kw in ("minItems", "maxItems"):
        if kw in sub and not _count_int(sub[kw]):
            return _INELIGIBLE
    cont = sub.get("contains")
    if cont is not None and (not isinstance(cont, dict) or not _plan_scalar(cont)):
        return _INELIGIBLE
    if "uniqueItems" in sub and not isinstance(sub["uniqueItems"], bool):
        return _INELIGIBLE
    items = sub.get("items")
    if items is None:
        return None
    if not isinstance(items, dict):
        # tuple items / bool items / additionalItems are walk territory
        return _INELIGIBLE
    if _plan_scalar(items):
        return items if items else None
    if deep and items.get("type") == "object":
        nested = _plan_object_fields(items, deep=False)
        if nested is not _INELIGIBLE:
            return ("object", nested)
    return _INELIGIBLE


def _plan_object_fields(sub: dict, deep: bool):
    """Validate an object-shaped subschema and return its nested field plan:
    field name -> (fsub, null_ok, required, null_invalid, f_extra) with the
    same flag semantics as the top-level plan; f_extra is None for scalar
    fields or ("array", items_spec) for array-of-scalar fields (only when
    `deep`).  _INELIGIBLE -> the property walks."""
    if set(sub) - _ALLOWED_KW_OBJECT:
        return _INELIGIBLE
    nreq = sub.get("required", [])
    if not isinstance(nreq, list) or not all(isinstance(r, str) for r in nreq):
        return _INELIGIBLE
    nprops = sub.get("properties", {})
    if not isinstance(nprops, dict):
        return _INELIGIBLE
    nested: dict[str, tuple] = {}
    nreq_set = set(nreq)
    for fname, fsub in nprops.items():
        if not isinstance(fsub, dict):
            return _INELIGIBLE
        f_extra = None
        if deep and fsub.get("type") == "array":
            spec = _plan_array_spec(fsub, deep=False)
            if spec is _INELIGIBLE:
                return _INELIGIBLE
            f_extra = ("array", spec)
            f_ninv = True  # null fails `type: array`
        elif _plan_scalar(fsub):
            f_ninv = _null_invalid(fsub)
        else:
            return _INELIGIBLE
        nested[fname] = (
            fsub, fname not in nreq_set and not f_ninv,
            fname in nreq_set, f_ninv, f_extra,
        )
    for rname in nreq:
        if rname not in nested:
            # required nested field w/o property: absent -> invalid,
            # null -> valid; a null cell is ambiguous -> row walks
            nested[rname] = ({}, False, True, False, None)
    return nested


def plan_screen(schema_data: Any) -> dict | None:
    """Compile a screening plan, or None when the schema is not screenable.
    A cyclic schema (an inlined recursive $ref) overflows the planner's
    recursion and falls back to the walk, which raises the reference's
    documented circular-reference error at validate time."""
    try:
        return _plan_screen_impl(schema_data)
    except RecursionError:
        return None


def _plan_screen_impl(schema_data: Any) -> dict | None:
    """plan_screen's body (see its docstring).

    The plan maps property name -> (subschema, null_ok, required,
    null_invalid, extra) where null_ok means "a row whose field is
    null-or-absent is certainly valid" (requires the absent verdict AND the
    null verdict to both be valid — pyarrow cannot distinguish the two);
    `required` is the absent verdict's invalidity, and `null_invalid` the
    explicit-null verdict's (null fails a `type` or a None-free
    enum/const), so `required and null_invalid` symmetrically means
    "null-or-absent is certainly INVALID".  `extra` is None for scalar
    properties, ("array", items_spec) for array properties (items_spec from
    _plan_array_spec: None / scalar dict / ("object", nested) for arrays of
    one-level objects), or ("object", nested_plan) for one-level nested
    objects — the nested plan reuses the same flag semantics per field,
    plus an f_extra slot for array-of-scalar fields."""
    if not isinstance(schema_data, dict):
        return None
    if set(schema_data) - _ALLOWED_TOP:
        return None
    if "type" in schema_data and schema_data["type"] != "object":
        return None
    req = schema_data.get("required", [])
    if not isinstance(req, list) or not all(isinstance(r, str) for r in req):
        return None
    props = schema_data.get("properties", {})
    if not isinstance(props, dict):
        return None

    plan: dict[str, tuple] = {}
    req_set = set(req)
    for name, sub in props.items():
        if not isinstance(sub, dict):
            return None
        t = sub.get("type")
        extra = None
        deep = _plan_deep_enum(sub)
        if deep is not _INELIGIBLE:
            # enum/const with array/object entries: canonical-key screening
            # (takes precedence over the type-shaped dispatch — the type
            # check folds into the deep-enum kernel)
            extra = deep
        elif t == "array":
            spec = _plan_array_spec(sub, deep=True)
            if spec is _INELIGIBLE:
                return None
            extra = ("array", spec)
        elif t == "object":
            nested = _plan_object_fields(sub, deep=True)
            if nested is _INELIGIBLE:
                return None
            extra = ("object", nested)
        else:
            if not _plan_scalar(sub):
                return None
        null_invalid = _null_invalid(sub)
        null_ok = name not in req_set and not null_invalid
        plan[name] = (sub, null_ok, name in req_set, null_invalid, extra)

    # required fields without a properties entry: absent -> invalid,
    # null -> valid; screening can't tell them apart, so such rows walk
    # (unless the whole column is missing from the batch: all-absent is
    # then proven, handled in screen_batch)
    for r in req:
        if r not in plan:
            plan[r] = ({}, False, True, False, None)

    # object-level extras: additionalProperties / patternProperties /
    # propertyNames apply to whichever keys a batch actually mentions —
    # the parsed table's column set is exactly that key universe, so the
    # constraints compile to per-column checks at screen time
    ap = schema_data.get("additionalProperties")
    if "additionalProperties" in schema_data:
        if isinstance(ap, dict):
            if not _plan_scalar(ap):
                return None
        elif not isinstance(ap, bool):
            return None
    pats: list[tuple] = []
    pp = schema_data.get("patternProperties")
    if pp is not None:
        if not isinstance(pp, dict):
            return None
        for pat, psub in pp.items():
            if not isinstance(pat, str) or not isinstance(psub, dict) \
                    or not _plan_scalar(psub):
                return None
            try:
                pats.append((re.compile(pat), psub))
            except re.error:
                return None
    pn = schema_data.get("propertyNames")
    if pn is not None:
        if not isinstance(pn, (dict, bool)):
            return None
        # probe the name validator once at plan time: a malformed pn schema
        # (uncompilable pattern, cyclic dict) raises data-independently and
        # must fall back to the walk, not crash the screen per batch
        try:
            from jsonschema_jl_spark.gate.validator import _validate

            _validate("probe", pn, "")
        except Exception:
            return None
    mn = schema_data.get("minProperties")
    mx = schema_data.get("maxProperties")
    for v in (mn, mx):
        if v is not None and not _count_int(v):
            return None
    deps: list[tuple] = []
    dd = schema_data.get("dependencies")
    if dd is not None:
        if not isinstance(dd, dict):
            return None
        for dkey, dval in dd.items():
            if not isinstance(dkey, str):
                return None
            if isinstance(dval, list):
                if not all(isinstance(n, str) for n in dval):
                    return None
                deps.append((dkey, ("keys", dval)))
            elif isinstance(dval, dict):
                dplan = plan_screen(dval)
                if dplan is None:
                    return None
                deps.append((dkey, ("schema", dplan)))
            else:
                return None
    if ("additionalProperties" in schema_data and ap is not True) or pats \
            or pn is not None or mn is not None or mx is not None or deps:
        plan[_EXTRAS] = {
            # the walk's _unmatched_keys uses `properties` keys only — a
            # required key WITHOUT a properties entry is still additional
            "known": set(props),
            "patterns": pats,
            "additional": ap if "additionalProperties" in schema_data else None,
            "prop_names": pn,
            "min_props": mn,
            "max_props": mx,
            "deps": deps,
        }
    return plan


def _to_np(arrow_bool) -> np.ndarray:
    return arrow_bool.fill_null(False).to_numpy(zero_copy_only=False)


def _scalar_masks(
    arr, sub: dict, nullm: np.ndarray | None = None, arrf=None
) -> np.ndarray | None:
    """Definitive-failure mask over `arr`'s values under scalar subschema
    `sub`.  Bits are set only for PRESENT (non-null) values — null slots are
    judged by the caller, which knows whether null means absent-or-null (a
    column cell) or a genuine JSON null (a list element).  Returns None when
    the whole batch must fall back (numbers beyond the float64-exact range,
    timestamp-inferred strings).  `nullm` lets a caller that already
    materialized arr's null bitmap share it, and `arrf` an already-gated
    float64 cast of a numeric arr (the ±2^53 magnitude gate must have run),
    so combinator members don't re-scan the column per member — one
    full-column pass saved per property (and per member) per batch on the
    dynamic gate's hot path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = len(arr)
    t = arr.type
    if pa.types.is_null(t):
        return np.zeros(m, dtype=bool)
    is_num = pa.types.is_integer(t) or pa.types.is_floating(t)
    is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
    is_bool = pa.types.is_boolean(t)
    if nullm is None:
        nullm = arr.is_null().to_numpy(zero_copy_only=False)
    present = ~nullm
    if not (is_num or is_str or is_bool):
        if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_time(t):
            # pyarrow inferred a timestamp from an ISO-date-like STRING: the
            # JSON value was a string, so type/length/pattern verdicts can't
            # be derived from the inferred column
            return None
        if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_struct(t):
            # genuine JSON array/object value under a scalar subschema: a
            # `type` not admitting array/object and any all-scalar
            # enum/const definitively fail; range/length/pattern apply only
            # to matching primitive types, so otherwise the value passes
            # every planned check — combinator members judge the same
            # array/object value recursively through this same branch
            typ = sub.get("type")
            type_fails = False
            if typ is not None:
                types = [typ] if isinstance(typ, str) else typ
                want = "object" if pa.types.is_struct(t) else "array"
                type_fails = want not in types
            base = (
                present.copy()
                if type_fails or _enum_of(sub) is not None
                else np.zeros(m, dtype=bool)
            )
            if any(k in sub for k in _COMBINATORS):
                cb = _combinator_bad(arr, sub, nullm, present)
                if cb is None:
                    return None
                base |= cb
            return base
        return None  # unexpected inference — walk
    bad = np.zeros(m, dtype=bool)

    if is_num and arrf is None:
        # exact-integer range gate: ints beyond 2^53 (or doubles pyarrow
        # silently demoted huge JSON ints into) can't be compared exactly.
        # screen_batch filters such rows out first (_inexact_rows), so this
        # refusal is only the safety net
        mm = pc.min_max(arr).as_py()
        if mm["min"] is not None and (
            abs(mm["min"]) > _MAX_EXACT or abs(mm["max"]) > _MAX_EXACT
        ):
            return None
        arrf = pc.cast(arr, pa.float64())

    typ = sub.get("type")
    if typ is not None:
        types = [typ] if isinstance(typ, str) else typ
        if is_num:
            if "number" in types:
                pass
            elif "integer" in types:
                # float with integral value counts as integer (walk parity)
                if pa.types.is_floating(t):
                    bad |= _to_np(pc.not_equal(arr, pc.floor(arr)))
            else:
                bad |= present
        elif is_str:
            if "string" not in types:
                bad |= present
        elif is_bool:
            if "boolean" not in types:
                bad |= present

    if is_num:
        if "minimum" in sub:
            bad |= _to_np(pc.less(arrf, float(sub["minimum"])))
        if "maximum" in sub:
            bad |= _to_np(pc.greater(arrf, float(sub["maximum"])))
        if "exclusiveMinimum" in sub:
            bad |= _to_np(pc.less_equal(arrf, float(sub["exclusiveMinimum"])))
        if "exclusiveMaximum" in sub:
            bad |= _to_np(pc.greater_equal(arrf, float(sub["exclusiveMaximum"])))
        if "multipleOf" in sub:
            # the walk's isapprox(y, round(y)) bit-for-bit: within the
            # ±2^53 gate int->float conversion is exact, so float division
            # here equals the walk's Python division on the same values
            xs = arrf.to_numpy(zero_copy_only=False)  # nulls -> NaN
            with np.errstate(divide="ignore", invalid="ignore"):
                y = xs / float(sub["multipleOf"])
            r = np.round(y)
            with np.errstate(invalid="ignore"):
                mbad = ~np.isfinite(y) | (
                    np.abs(y - r) > _MULT_RTOL * np.maximum(np.abs(y), np.abs(r))
                )
            bad |= mbad  # null slots masked off by the `& present` return
    if is_str:
        if "minLength" in sub:
            bad |= _to_np(pc.less(pc.utf8_length(arr), sub["minLength"]))
        if "maxLength" in sub:
            bad |= _to_np(pc.greater(pc.utf8_length(arr), sub["maxLength"]))
        if "pattern" in sub:
            s = pd.Series(arr.to_pandas(), copy=False).astype(object)
            hit = s.str.contains(sub["pattern"], regex=True, na=False)
            bad |= ~hit.to_numpy(dtype=bool)

    allowed = _enum_of(sub)
    if allowed is not None:
        if is_bool:
            permitted = {e for e in allowed if isinstance(e, bool)}
            v = _to_np(arr)
            hit = np.zeros(m, dtype=bool)
            if True in permitted:
                hit |= v & present
            if False in permitted:
                hit |= (~v) & present
            bad |= ~hit
        elif is_num:
            # is_in hashes the sign bit, the walk compares numbers: adding
            # 0.0 maps -0.0 to 0.0 on both sides, so -0.0 matches 0
            nums = [
                float(e) + 0.0 for e in allowed
                if isinstance(e, (int, float)) and not isinstance(e, bool)
            ]
            bad |= ~_to_np(
                pc.is_in(pc.add(arrf, 0.0), value_set=pa.array(nums, pa.float64()))
            )
        elif is_str:
            strs = [e for e in allowed if isinstance(e, str)]
            bad |= ~_to_np(pc.is_in(arr, value_set=pa.array(strs, t)))

    if any(k in sub for k in _COMBINATORS):
        cb = _combinator_bad(arr, sub, nullm, present, arrf=arrf)
        if cb is None:
            return None
        bad |= cb

    # every `bad` bit above is a DEFINITIVE keyword failure on a present
    # value (wrong-typed column, range/length/pattern/enum miss, float
    # with a fractional part vs `type: integer`, a combinator verdict
    # combined from fully-screened members) — the same checks the exact
    # walk runs, just vectorized
    return bad & present


def _combinator_bad(
    arr, sub: dict, nullm: np.ndarray, present: np.ndarray, arrf=None
) -> np.ndarray | None:
    """Definitive-failure bits (over present slots) contributed by the
    scalar-level combinators in `sub`, or None -> batch fallback.  Sound
    because every member is a fully-screened scalar subschema (_plan_scalar
    admits only members whose EVERY keyword the kernel checks), so a
    member's bad mask is definitive in BOTH directions over present values:
    pass_m = present & ~bad_m.  Then allOf fails iff any member fails,
    anyOf iff all fail, oneOf iff the pass count != 1, `not` iff the member
    passes — exactly the walk's verdicts."""
    m = len(present)
    bad = np.zeros(m, dtype=bool)
    if "allOf" in sub:
        for msub in sub["allOf"]:
            b = _scalar_masks(arr, msub, nullm=nullm, arrf=arrf)
            if b is None:
                return None
            bad |= b
    if "anyOf" in sub:
        all_fail = present.copy()
        for msub in sub["anyOf"]:
            b = _scalar_masks(arr, msub, nullm=nullm, arrf=arrf)
            if b is None:
                return None
            all_fail &= b
        bad |= all_fail
    if "oneOf" in sub:
        cnt = np.zeros(m, dtype=np.int64)
        for msub in sub["oneOf"]:
            b = _scalar_masks(arr, msub, nullm=nullm, arrf=arrf)
            if b is None:
                return None
            cnt += present & ~b
        bad |= present & (cnt != 1)
    if "not" in sub:
        b = _scalar_masks(arr, sub["not"], nullm=nullm, arrf=arrf)
        if b is None:
            return None
        bad |= present & ~b
    if "if" in sub:
        b_if = _scalar_masks(arr, sub["if"], nullm=nullm, arrf=arrf)
        if b_if is None:
            return None
        # b_if is present-masked and definitive both ways: pass_if and
        # fail_if partition the present slots exactly as the walk does
        if "then" in sub:
            b_then = _scalar_masks(arr, sub["then"], nullm=nullm, arrf=arrf)
            if b_then is None:
                return None
            bad |= (present & ~b_if) & b_then
        if "else" in sub:
            b_else = _scalar_masks(arr, sub["else"], nullm=nullm, arrf=arrf)
            if b_else is None:
                return None
            bad |= b_if & b_else
    return bad


def _array_masks(
    arr, sub: dict, nullm: np.ndarray | None = None, items_spec=None
) -> tuple[np.ndarray, np.ndarray] | None:
    """(bad, ambiguous) over an array-typed property's column; bits only on
    present slots.  None -> batch fallback.  `nullm`: see _scalar_masks.
    `items_spec` is the PLANNED element spec (from _plan_array_spec): None,
    a scalar subschema, or ("object", nested_fields) for arrays of
    one-level objects — the planner's verdict is authoritative so the mask
    code never re-derives eligibility from `sub`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = len(arr)
    zeros = np.zeros(m, dtype=bool)
    t = arr.type
    if pa.types.is_null(t):
        return zeros, zeros.copy()
    if nullm is None:
        nullm = arr.is_null().to_numpy(zero_copy_only=False)
    present = ~nullm
    if not (pa.types.is_list(t) or pa.types.is_large_list(t)):
        if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_time(t):
            return None
        # any non-list parse means the JSON value was not an array ->
        # definitive `type` failure
        return present.copy(), zeros
    bad = np.zeros(m, dtype=bool)
    amb = np.zeros(m, dtype=bool)
    counts = pc.list_value_length(arr).fill_null(0).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    if "minItems" in sub:
        bad |= present & (counts < sub["minItems"])
    if "maxItems" in sub:
        bad |= present & (counts > sub["maxItems"])
    cont = sub.get("contains")
    uniq = sub.get("uniqueItems") is True
    if items_spec is not None or isinstance(cont, dict) or uniq:
        vals = pc.list_flatten(arr)  # skips null slots, matching fill_null(0)
        if isinstance(vals, pa.ChunkedArray):
            vals = vals.combine_chunks()
        if int(counts.sum()) != len(vals):
            # alignment probe: flatten and value-length must agree on the
            # element layout (they do on pyarrow 16; a future change walks)
            return None
        vals_null = vals.is_null().to_numpy(zero_copy_only=False)
        rows = np.repeat(np.arange(m, dtype=np.int64), counts)
    if isinstance(items_spec, tuple):  # ("object", nested_fields)
        res = _object_masks(vals, items_spec[1], nullm=vals_null)
        if res is None:
            return None
        ebad, eamb = res
        # a null ELEMENT is a genuine JSON null: it fails `type: object`
        ebad = ebad | vals_null
        if len(vals):
            bad |= (np.bincount(rows[ebad], minlength=m) > 0) & present
            # an ambiguous element makes the ROW ambiguous (walks) unless
            # another element already decided the row definitively bad
            amb |= (np.bincount(rows[eamb], minlength=m) > 0) & present
    elif items_spec is not None:
        ebad = _scalar_masks(vals, items_spec, nullm=vals_null)
        if ebad is None:
            return None
        # a null ELEMENT is a genuine JSON null (no absent reading inside a
        # list): it definitively fails items' `type`/None-free enum, and
        # definitively passes otherwise (range/length/pattern apply only to
        # matching primitive types)
        if _null_invalid(items_spec):
            ebad = ebad | vals_null
        if len(vals):
            hits = np.bincount(rows[ebad], minlength=m) > 0
            bad |= hits & present
    if isinstance(cont, dict):
        # contains fails iff NO element validates the member — definitive
        # both ways because the member is fully screened (null elements'
        # verdict is _null_invalid, static)
        cbad = _scalar_masks(vals, cont, nullm=vals_null)
        if cbad is None:
            return None
        e_pass = ~cbad & ~vals_null
        if not _null_invalid(cont):
            e_pass |= vals_null
        hits = (
            np.bincount(rows[e_pass], minlength=m) > 0
            if len(vals) else np.zeros(m, dtype=bool)
        )
        bad |= present & ~hits
    if uniq and len(vals):
        et = vals.type
        # primitive elements only: nested lists/dicts are unhashable for
        # the dup scan, and timestamp-inferred elements would equate
        # distinct source strings; ints beyond 2^53 would collide after
        # the pandas float upcast of a nullable int column (screen_batch
        # filters such rows out first, so this refusal is the safety net)
        if not (
            pa.types.is_floating(et) or pa.types.is_string(et)
            or pa.types.is_large_string(et) or pa.types.is_boolean(et)
            or pa.types.is_null(et) or pa.types.is_integer(et)
        ):
            return None
        if pa.types.is_integer(et):
            mm = pc.min_max(vals).as_py()
            if mm["min"] is not None and (
                abs(mm["min"]) > _MAX_EXACT or abs(mm["max"]) > _MAX_EXACT
            ):
                return None
        # per-row duplicate scan; pandas equality matches the walk's
        # json_equal on a single-typed column (2 == 2.0, null == null;
        # bool-vs-number mixes can't share one parsed column)
        dup = pd.DataFrame(
            {"r": rows, "v": vals.to_pandas().to_numpy()}
        ).duplicated().to_numpy()
        bad |= (np.bincount(rows[dup], minlength=m) > 0) & present
    return bad, amb


def _object_masks(
    arr, nested: dict, nullm: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray] | None:
    """(bad, ambiguous) over a one-level-nested object property's column;
    bits only on present slots.  None -> batch fallback.  `nullm`: see
    _scalar_masks."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = len(arr)
    zeros = np.zeros(m, dtype=bool)
    t = arr.type
    if pa.types.is_null(t):
        return zeros, zeros.copy()
    if nullm is None:
        nullm = arr.is_null().to_numpy(zero_copy_only=False)
    present = ~nullm
    if not pa.types.is_struct(t):
        if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_time(t):
            return None
        return present.copy(), zeros  # non-object value fails `type: object`
    bad = np.zeros(m, dtype=bool)
    amb = np.zeros(m, dtype=bool)
    fields = {t.field(i).name for i in range(t.num_fields)}
    for fname, (fsub, f_null_ok, f_req, f_null_inv, f_extra) in nested.items():
        if fname not in fields:
            # the struct TYPE is the union of keys across rows: a field
            # absent from the type is absent in EVERY row -> required fails
            # definitively wherever the outer object is present
            if f_req:
                bad |= present
            continue
        child = pc.struct_field(arr, fname)
        if isinstance(child, pa.ChunkedArray):
            child = child.combine_chunks()
        # child null where outer present = field null-or-absent (ambiguous,
        # same as a top-level null cell)
        child_null = child.is_null().to_numpy(zero_copy_only=False)
        cnull = child_null & present
        if f_req and f_null_inv:
            bad |= cnull
        elif not f_null_ok:
            amb |= cnull
        if f_extra is not None:  # ("array", items_spec)
            res = _array_masks(child, fsub, nullm=child_null,
                               items_spec=f_extra[1])
            if res is None:
                return None
            bad |= res[0] & present
            amb |= res[1] & present
        else:
            cbad = _scalar_masks(child, fsub, nullm=child_null)
            if cbad is None:
                return None
            bad |= cbad & present
    return bad, amb


def screen_batch(
    raws: pd.Series, plan: dict | list | tuple
) -> tuple[np.ndarray, np.ndarray] | None:
    """(certainly_valid, certainly_invalid) boolean masks over the batch, or
    None when the whole batch must fall back to the dict walk.  The two
    masks are disjoint; rows in neither walk.  certainly_invalid carries no
    issue detail — consume it only where the verdict alone suffices
    (gate_filter).

    The screen decides rows, not batches: a row pyarrow cannot parse
    (_parse_isolating) or holding, in a column the plan reads
    (_read_columns), a number beyond float64's exact range (_inexact_rows)
    walks alone while its batchmates stay screened.  The
    whole batch walks only when the parse cannot be isolated, the parsed
    type nests past _MAX_SCREEN_DEPTH, or a planned column forces it.

    `plan` is a single property-plan dict, a LIST of them — an allOf
    conjunction (plan_screen_conj): the batch parses once, every member
    plan evaluates over the same parsed table, and the masks combine as
    valid = all members valid, invalid = any member definitively invalid —
    exactly the walk's allOf semantics for the verdict (members validate
    the same instance independently) — or a ("top", conj, ops) tuple whose
    ops add anyOf/oneOf/not/if-then-else steps, each combined from BOTH
    mask directions of its member plans (see plan_screen_conj's table);
    any ambiguity leaves both bits clear (the row walks)."""
    import pyarrow as pa

    n = len(raws)
    vals = raws.to_numpy(dtype=object)
    # rows screenable by the line-oriented reader: non-null single-line
    # strings that LOOK like objects (anything else walks).  The object
    # check matters twice: a non-object row would abort the whole batch's
    # parse (one stray `3.14` un-screening everything), and a bare `null`
    # line SEGFAULTS pyarrow 16's json reader outright.
    screenable = np.fromiter(
        (
            isinstance(v, str)
            and "\n" not in v and "\r" not in v
            and v.lstrip()[:1] == "{"
            for v in vals
        ),
        dtype=bool,
        count=n,
    )
    out = np.zeros(n, dtype=bool)
    inv_out = np.zeros(n, dtype=bool)
    parsed = _parse_isolating(vals, np.flatnonzero(screenable))
    if parsed is None:
        return None
    tbl, idx = parsed
    if idx.size == 0:
        return out, inv_out
    if tbl.num_rows != idx.size or _nests_deeper(tbl.schema, _MAX_SCREEN_DEPTH):
        return None
    # rows holding, in a column the plan reads, a number float64 cannot
    # carry exactly leave the table and walk; their batchmates stay on the
    # screen.  Unread columns are never judged, so they are not scanned.
    read = _read_columns(plan)
    try:
        inexact = np.zeros(idx.size, dtype=bool)
        for name in tbl.schema.names:
            if read is not None and name not in read:
                continue
            m = _inexact_rows(tbl.column(name).combine_chunks())
            if m is None:
                return None
            inexact |= m
        if inexact.any():
            tbl = tbl.filter(pa.array(~inexact))
            idx = idx[~inexact]
    except Exception:
        return None  # a structurally invalid parsed column (see _plan_masks)
    if idx.size == 0:
        return out, inv_out
    # JSON's `null` literal has no escaped form, so a row whose text holds
    # no "null" has no explicit null anywhere: each of its null top-level
    # cells is an absent key
    null_free = np.fromiter(
        ("null" not in v for v in vals[idx].tolist()), dtype=bool, count=idx.size
    )

    if isinstance(plan, tuple) and plan and plan[0] == "top":
        _, conj, ops = plan
    else:
        conj = plan if isinstance(plan, list) else [plan]
        ops = ()
    ok = np.ones(idx.size, dtype=bool)
    inv = np.zeros(idx.size, dtype=bool)
    for p in conj:
        res = _plan_masks(tbl, p, idx.size, null_free)
        if res is None:
            return None
        ok &= res[0]
        inv |= res[1]
    for op in ops:
        kind = op[0]
        if kind in ("anyOf", "oneOf"):
            pairs = []
            for p in op[1]:
                r = _plan_masks(tbl, p, idx.size, null_free)
                if r is None:
                    return None
                pairs.append(r)
            okm = np.stack([r[0] for r in pairs])
            invm = np.stack([r[1] for r in pairs])
            if kind == "anyOf":
                ok &= okm.any(axis=0)
                inv |= invm.all(axis=0)
            else:
                n_ok = okm.sum(axis=0)
                n_inv = invm.sum(axis=0)
                ok &= (n_ok == 1) & (n_inv == len(pairs) - 1)
                inv |= (n_ok >= 2) | invm.all(axis=0)
        elif kind == "not":
            r = _plan_masks(tbl, op[1], idx.size, null_free)
            if r is None:
                return None
            ok &= r[1]
            inv |= r[0]
        else:  # ("ite", if, then, else)
            _, p_if, p_then, p_else = op
            rif = _plan_masks(tbl, p_if, idx.size, null_free)
            if rif is None:
                return None
            ok_if, inv_if = rif
            ones = np.ones(idx.size, dtype=bool)
            zeros = np.zeros(idx.size, dtype=bool)
            ok_then, inv_then = (ones, zeros)
            ok_else, inv_else = (ones, zeros)
            if p_then is not None:
                r = _plan_masks(tbl, p_then, idx.size, null_free)
                if r is None:
                    return None
                ok_then, inv_then = r
            if p_else is not None:
                r = _plan_masks(tbl, p_else, idx.size, null_free)
                if r is None:
                    return None
                ok_else, inv_else = r
            ok &= (ok_if & ok_then) | (inv_if & ok_else)
            inv |= (ok_if & inv_then) | (inv_if & inv_else)

    out[idx] = ok
    inv_out[idx] = inv
    return out, inv_out


def _read_rows(vals: np.ndarray, idx: np.ndarray):
    """pyarrow's parse of rows `idx` of `vals` as one JSON-lines blob, or
    None when the reader raises."""
    from pyarrow import json as pajson

    try:
        blob = "\n".join(vals[idx].tolist()).encode("utf-8")
        return pajson.read_json(
            io.BytesIO(blob),
            # use_threads=False: Spark's forked python workers inherit a
            # parent-process pyarrow thread pool that is unusable post-fork
            # (worker crash, observed as executor EOFException); the batch
            # is one task's slice anyway, so intra-read parallelism would
            # only fight the executor's task parallelism
            read_options=pajson.ReadOptions(use_threads=False),
            parse_options=pajson.ParseOptions(newlines_in_values=False),
        )
    except Exception:
        return None


def _raise_constant(name: str):
    raise ValueError(f"{name} is not JSON")


# the stdlib's C scanner, one call per document; NaN/Infinity are not JSON,
# so rows carrying them walk instead of being vouched for by a re-parse
_SCAN_ONCE = json.JSONDecoder(parse_constant=_raise_constant).scan_once


def _probe_ok(v: str) -> bool:
    """Does the stdlib scanner read `v` as exactly one JSON document (the
    walk's json.loads verdict, without json.loads' wrapper and its
    whitespace and extra-data handling; the object is still built)?"""
    start = len(v) - len(v.lstrip(" \t"))
    try:
        _, end = _SCAN_ONCE(v, start)
        v.encode("utf-8")  # a lone surrogate would fail the blob's encode
    except (StopIteration, ValueError, RecursionError):
        # no value at `start`; malformed text, a constant, the int digit
        # limit or an unencodable surrogate; nesting past the recursion limit
        return False
    return not v[end:].strip(" \t")


def _parse_isolating(vals: np.ndarray, idx: np.ndarray):
    """Parse rows `idx` with pyarrow once, isolating rows that break the
    parse: (table, idx of the rows it holds), or None when the batch cannot
    be isolated.  When the batch's parse fails, every row is probed once
    with the stdlib scanner; rows it rejects walk, the rest parse again.  A
    re-parse that still fails (the two parsers disagree on duplicate keys
    and on a column whose type changes between rows) walks the whole batch,
    so a row is kept only when pyarrow parsed it."""
    if idx.size == 0:
        return None, idx
    tbl = _read_rows(vals, idx)
    if tbl is not None:
        return tbl, idx
    idx = idx[np.fromiter(map(_probe_ok, vals[idx].tolist()), dtype=bool, count=idx.size)]
    if idx.size == 0:
        return None, idx
    tbl = _read_rows(vals, idx)
    return None if tbl is None else (tbl, idx)


def _read_columns(plan: dict | list | tuple) -> set | None:
    """Top-level column names whose values some member plan of `plan`
    judges (nested fields live under them); None when a patternProperties
    or schema-form additionalProperties subschema may judge any column.
    The other object-level extras read only column names and null cells."""
    if isinstance(plan, tuple) and plan and plan[0] == "top":
        _, conj, ops = plan
        plans = list(conj)
        for op in ops:
            if op[0] in ("anyOf", "oneOf"):
                plans += op[1]
            else:  # ("not", p) / ("ite", if, then, else)
                plans += [p for p in op[1:] if p is not None]
    else:
        plans = list(plan) if isinstance(plan, list) else [plan]
    names: set = set()
    while plans:
        p = plans.pop()
        names.update(k for k in p if k is not _EXTRAS)
        extras = p.get(_EXTRAS)
        if extras is not None:
            if extras["patterns"] or isinstance(extras["additional"], dict):
                return None
            plans += [d for _, (kind, d) in extras["deps"] if kind == "schema"]
    return names


def _inexact_rows(arr) -> np.ndarray | None:
    """Per-row mask of the rows of `arr` holding, at any depth (struct
    fields, list values), a number the float64 kernels cannot judge
    exactly.  None for a type not covered (the batch walks).  Integers
    compare as integers (a cast to float64 raises on a value such as
    2^53+64): beyond ±2^53 is inexact.  A double is inexact from 2^53 up,
    and when not finite: a JSON integer 2^53+1 in a column that some other
    row made double reads as 2^53 exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = len(arr)
    t = arr.type
    if pa.types.is_integer(t):
        mm = pc.min_max(arr).as_py()
        if mm["min"] is None or (mm["min"] >= -_MAX_EXACT and mm["max"] <= _MAX_EXACT):
            return np.zeros(m, dtype=bool)
        return _to_np(pc.or_(pc.greater(arr, _MAX_EXACT), pc.less(arr, -_MAX_EXACT)))
    if pa.types.is_floating(t):
        return _to_np(pc.invert(pc.less(pc.abs(arr), float(_MAX_EXACT))))
    if pa.types.is_struct(t):
        out = np.zeros(m, dtype=bool)
        for i in range(t.num_fields):
            sub = _inexact_rows(pc.struct_field(arr, [i]))
            if sub is None:
                return None
            out |= sub
        return out
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        vals = pc.list_flatten(arr)  # skips null slots, matching fill_null(0)
        counts = pc.list_value_length(arr).fill_null(0).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        if int(counts.sum()) != len(vals):
            return None  # the same alignment probe as _array_masks
        sub = _inexact_rows(vals)
        if sub is None:
            return None
        rows = np.repeat(np.arange(m, dtype=np.int64), counts)
        return np.bincount(rows[sub], minlength=m) > 0
    if pa.types.is_null(t) or pa.types.is_boolean(t) or pa.types.is_string(t) \
            or pa.types.is_large_string(t) or _has_temporal(t):
        return np.zeros(m, dtype=bool)
    return None


def _nests_deeper(schema, limit: int) -> bool:
    """Whether the parsed batch's inferred type nests more than `limit`
    levels (iterative: the type can be as deep as the document)."""
    import pyarrow as pa

    stack = [(f.type, 1) for f in schema]
    while stack:
        t, d = stack.pop()
        if d > limit:
            return True
        if pa.types.is_struct(t):
            stack.extend((t.field(i).type, d + 1) for i in range(t.num_fields))
        elif pa.types.is_list(t):
            stack.append((t.value_type, d + 1))
    return False


def _plan_masks(
    tbl, plan: dict, size: int, null_free: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray] | None:
    """(ok, inv) masks for ONE property-plan over the parsed batch table;
    None when any planned column forces the whole batch to the walk.
    `null_free` marks rows whose text holds no `null` literal: a null
    top-level cell there is proven an absent key, which satisfies an
    optional property and definitively fails a required one.
    Per-plan disjointness holds: every inv bit is paired with an ok clear
    (bad clears ok; a required+null_invalid null clears ok via null_ok
    being False by construction in plan_screen; a proven-absent required
    cell clears ok explicitly)."""
    import pyarrow as pa

    ok = np.ones(size, dtype=bool)
    inv = np.zeros(size, dtype=bool)
    names = set(tbl.schema.names)
    extras = plan.get(_EXTRAS)
    for name, spec in plan.items():
        if name is _EXTRAS:
            continue
        sub, null_ok, required, null_invalid, extra = spec
        if name not in names:
            # no row mentions the key at all (an explicit `"k": null` would
            # have produced a null-typed column, so column absence proves
            # key absence for every screened row — probed in tests):
            # required -> every screened row definitively fails `required`;
            # optional -> absent satisfies the property, no constraint
            if required:
                ok[:] = False
                inv[:] = True
            continue
        # pyarrow 16.1's JSON reader can emit STRUCTURALLY INVALID arrays —
        # a column of `[null, ...]` lists parses to list<null> whose offsets
        # span more slots than the child holds, and the first touch
        # (combine_chunks here, or list_flatten in _array_masks) raises
        # ArrowIndexError.  Any pyarrow failure on a parsed column means the
        # column can't be trusted; fall back to the exact dict walk.
        try:
            arr = tbl.column(name)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            # one null-bitmap expansion per property per batch, shared with
            # the mask helpers (they'd otherwise each recompute it)
            nullm = arr.is_null().to_numpy(zero_copy_only=False)
            if extra is None:
                bad = _scalar_masks(arr, sub, nullm=nullm)
                if bad is None:
                    return None
                amb = None
            elif extra[0] == "deep_enum":
                res = _deep_enum_masks(arr, extra[1], nullm)
                if res is None:
                    return None
                bad, amb = res
            elif extra[0] == "array":
                res = _array_masks(arr, sub, nullm=nullm, items_spec=extra[1])
                if res is None:
                    return None
                bad, amb = res
            else:  # ("object", nested_plan)
                res = _object_masks(arr, extra[1], nullm=nullm)
                if res is None:
                    return None
                bad, amb = res
        except Exception:
            return None
        if null_free is not None:
            absent = nullm & null_free
            if required:
                inv |= absent
                ok &= ~absent
            nullm = nullm & ~null_free  # cells still absent-OR-null
        if not null_ok:
            ok &= ~nullm
        if required and null_invalid:
            # both readings of a null cell (explicit null / absent key) are
            # invalid under this property -> definitive
            inv |= nullm
        ok &= ~bad
        if amb is not None:
            ok &= ~amb
        inv |= bad

    if extras is not None:
        res = _extras_masks(tbl, extras, ok, inv)
        if res is None:
            return None

    return ok, inv


def _extras_masks(tbl, extras: dict, ok: np.ndarray, inv: np.ndarray):
    """Apply object-level extras (propertyNames / patternProperties /
    additionalProperties) to the (ok, inv) masks IN PLACE; None -> batch
    fallback.  The parsed table's columns are exactly the keys any row
    mentions, so each constraint compiles to per-column checks:

      * propertyNames judges each column NAME with the exact walk validator
        (names are fully known — any schema works); a failing name makes
        non-null cells definitively invalid and null cells ambiguous (the
        absent reading has no such key, the explicit-null reading does);
      * patternProperties applies its subschema's scalar masks to every
        column whose name the pattern matches (known or not — the walk
        checks matching keys regardless of `properties` membership);
      * additionalProperties applies to columns neither in `properties` nor
        matched by any pattern: False fast-rejects rows mentioning such a
        key; a schema form runs its scalar masks.  A batch with NO such
        columns proves every row clean (column absence proves key absence).
    """
    import pyarrow as pa

    from jsonschema_jl_spark.gate.validator import _validate

    known = extras["known"]
    patterns = extras["patterns"]
    ap = extras["additional"]
    pn = extras["prop_names"]
    mn = extras.get("min_props")
    mx = extras.get("max_props")
    names = set(tbl.schema.names)

    # one (column, null-bitmap) materialization per column per batch,
    # shared across the deps / key-count / pattern loops (same convention
    # as _plan_masks' nullm sharing)
    _cols: dict = {}

    def _col_null(cname):
        hit = _cols.get(cname)
        if hit is None:
            c = tbl.column(cname)
            if isinstance(c, pa.ChunkedArray):
                c = c.combine_chunks()
            hit = (c, c.is_null().to_numpy(zero_copy_only=False))
            _cols[cname] = hit
        return hit

    for dkey, (kind, payload) in extras.get("deps", ()):
        if dkey not in names:
            continue  # no row mentions the trigger key -> dep vacuous
        try:
            knonnull = ~_col_null(dkey)[1]
            if kind == "keys":
                # the dep requires these KEYS present; an explicit-null
                # value still counts as present, so a needed column's
                # null cell is ambiguous and only non-null cells certify
                for need in payload:
                    if need not in names:
                        inv |= knonnull  # needed key absent in EVERY row
                        ok[:] = False
                        continue
                    ok &= ~_col_null(need)[1]
            else:  # ("schema", dep_plan)
                res = _plan_masks(tbl, payload, len(ok))
                if res is None:
                    return None
                ok_d, inv_d = res
                # trigger-key-definitely-present rows need the dep schema;
                # trigger-null rows certify only when the dep ALSO holds
                # (the explicit-null reading applies it)
                inv |= knonnull & inv_d
                ok &= ok_d
        except Exception:
            return None
    if mn is not None or mx is not None:
        # a row's true key count lies in [non-null cells, total columns]:
        # a null cell is absent-OR-an-explicit-null-key, and every column
        # beyond the row's cells is proven absent.  Definitive verdicts
        # come from the interval endpoints; in-between rows stay walkable.
        try:
            counts = np.zeros(len(ok), dtype=np.int64)
            for cname in tbl.schema.names:
                counts += ~_col_null(cname)[1]
        except Exception:
            return None
        ncols = tbl.num_columns
        if mx is not None:
            inv |= counts > mx
            if ncols > mx:
                # some null cell could be an explicit-null KEY pushing a
                # row over the max -> nothing below the max certifies
                ok[:] = False
        if mn is not None:
            if ncols < mn:
                # even the all-nulls-are-keys reading falls short
                inv[:] = True
                ok[:] = False
            else:
                ok &= counts >= mn
    for cname in tbl.schema.names:
        matched = [psub for rx, psub in patterns if rx.search(cname)]
        is_additional = cname not in known and not matched
        ap_applies = is_additional and ap is not None
        if pn is None and not (matched or ap_applies):
            continue
        try:
            # inside the try: the plan-time probe makes a data-independent
            # _validate crash unreachable, but keep per-name evaluation
            # faulted to a batch fallback rather than a task crash anyway
            pn_fails = pn is not None and _validate(cname, pn, "") is not None
            if not (matched or pn_fails or ap_applies):
                continue
            col, colnull = _col_null(cname)
            nonnull = ~colnull
            if pn_fails or (ap_applies and ap is False):
                inv |= nonnull
                # every row's cell is either non-null (key definitively
                # present -> invalid) or null (absent-OR-null: the
                # explicit-null reading carries the offending key ->
                # ambiguous), so no row in a batch containing this column
                # can be certified valid
                ok[:] = False
                continue
            subs = list(matched)
            if ap_applies and isinstance(ap, dict):
                subs.append(ap)
            for psub in subs:
                pbad = _scalar_masks(col, psub, nullm=colnull)
                if pbad is None:
                    return None
                inv |= pbad
                ok &= ~pbad
                if _null_invalid(psub):
                    # explicit-null reading fails the subschema; absent
                    # reading passes -> ambiguous
                    ok &= ~colnull
        except Exception:
            return None
    return True


def plan_screen_conj(schema_data: Any) -> list | tuple | None:
    """Compile the top-level screening plan for a schema whose top level is
    a screenable base (plan_screen), optionally plus top-level combinators
    of screenable object schemas: `allOf`, `anyOf`, `oneOf`, `not`, and
    `if`/`then`/`else`.  Returns a list of property-plans (pure
    conjunction), or a ("top", conj_list, ops) tuple where ops is a list of
    (kind, payload) combinator steps, or None when any part is unscreenable
    (whole schema walks).

    Soundness uses BOTH mask directions of each member plan (certainly
    valid / certainly invalid, ambiguity walks):
      allOf   valid=all ok,                    invalid=any inv (in conj)
      anyOf   valid=any ok,                    invalid=all inv
      oneOf   valid=exactly one ok AND the     invalid=ok count >= 2 OR
              rest inv,                                all inv
      not     valid=member inv,                invalid=member ok
      ite     valid=(if ok ∧ then ok) ∨        invalid=(if ok ∧ then inv) ∨
                    (if inv ∧ else ok),                (if inv ∧ else inv)"""
    try:
        return _plan_screen_conj_impl(schema_data)
    except RecursionError:
        return None  # cyclic schema: walk (raises the documented error)


def _plan_screen_conj_impl(schema_data: Any) -> list | tuple | None:
    if not isinstance(schema_data, dict):
        return None
    extra_top = {"allOf", "anyOf", "oneOf", "not", "if", "then", "else"}
    if not (set(schema_data) & extra_top):
        p = plan_screen(schema_data)
        return None if p is None else [p]
    if set(schema_data) - (_ALLOWED_TOP | extra_top):
        return None
    members = schema_data.get("allOf", [])
    if "allOf" in schema_data and (not isinstance(members, list) or not members):
        return None
    base = {k: v for k, v in schema_data.items() if k not in extra_top}
    plans: list[dict] = []
    for part in [base, *members]:
        p = plan_screen(part)
        if p is None:
            return None
        plans.append(p)

    ops: list[tuple] = []
    for kw in ("anyOf", "oneOf"):
        if kw not in schema_data:
            continue
        mem = schema_data[kw]
        if not isinstance(mem, list) or not mem:
            return None
        mplans = []
        for s in mem:
            p = plan_screen(s)
            if p is None:
                return None
            mplans.append(p)
        ops.append((kw, mplans))
    if "not" in schema_data:
        p = plan_screen(schema_data["not"])
        if p is None:
            return None
        ops.append(("not", p))
    if "if" in schema_data:
        ite: list = []
        for kw in ("if", "then", "else"):
            if kw not in schema_data:
                ite.append(None)
                continue
            p = plan_screen(schema_data[kw])
            if p is None:
                return None
            ite.append(p)
        ops.append(("ite", ite[0], ite[1], ite[2]))
    # then/else without if are ignored by the walk, and by us
    if not ops:
        return plans
    return ("top", plans, ops)
