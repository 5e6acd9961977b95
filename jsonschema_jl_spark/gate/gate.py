"""DataFrame validation gate: `apply_gate` / `gate_filter`.

Mirrors the reference entry points (validate -> issue|nothing,
src/validation.jl:68-72) as a DataFrame transform:

    out = apply_gate(df, schema)          # typed-column mode
    out = apply_gate(df, schema, json_col="props")   # dynamic JSON mode

adds two columns:
    issue   : struct(path, instance, reason, value) — NULL when valid
    isvalid : boolean = issue IS NULL

Backend selection (the pushable/residual split, SURVEY §4.2):
  1. typed mode + fully native-translatable schema -> pure Column expressions
     (whole-stage codegen, pushdown-capable, zero Python);
  2. otherwise -> one Arrow-batched pandas UDF running the dict-tree
     validator (exact reference semantics).  Typed rows are serialized via
     to_json(struct(*)) — Spark drops NULL fields, which realizes the
     documented null==absent narrowing for typed columns.
`gate_filter` additionally pushes the derivable native necessary-condition
ahead of the UDF so the scan prunes rows before they reach Python.
"""

from __future__ import annotations

import json
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T

from jsonschema_jl_spark.gate.schema import Schema
from jsonschema_jl_spark.gate.validator import _validate
from jsonschema_jl_spark.gate.compiler import (
    ISSUE_TYPE,
    NotNativelyCompilable,
    checks_to_issue_column,
    compile_native_checks,
    necessary_condition,
)

_ISSUE_FIELDS = ["path", "instance", "reason", "value"]


def _issue_record(x: Any, schema_data: Any) -> dict | None:
    issue = _validate(x, schema_data, "")
    if issue is None:
        return None
    return {
        "path": issue.path,
        "instance": json.dumps(issue.x, default=str),
        "reason": issue.reason,
        "value": json.dumps(issue.val, default=str),
    }


# placeholder issue for invalid rows whose exact first failure is never
# built (screen-rejected or walked) — only ever emitted in verdict-only
# mode, where the caller drops the issue struct (gate_filter)
_SCREEN_ISSUE = {
    "path": "",
    "instance": "",
    "reason": "screen",
    "value": "invalid (verdict-only: no issue detail)",
}


def _json_issue(raw: Any, value: str) -> dict:
    return {"path": "", "instance": str(raw)[:256], "reason": "json", "value": value}


_TOO_DEEP = "nesting depth beyond the recursion limit"


def _walk_record(raw: Any, schema_data: Any, verdict_only: bool) -> dict | None:
    """The exact dict walk of one JSON text: its issue record, or None when
    valid.  A text that cannot become a dict tree fails closed on its own
    row; in verdict-only mode an invalid row gets the placeholder issue
    instead of the two json.dumps of its detail."""
    try:
        doc = None if raw is None else json.loads(raw)
    except (json.JSONDecodeError, TypeError):
        return _json_issue(raw, "malformed JSON")
    except ValueError:
        # CPython's int-string conversion limit (4300 digits by default)
        return _json_issue(raw, "integer literal beyond the interpreter's digit limit")
    except RecursionError:
        return _json_issue(raw, _TOO_DEEP)
    try:
        if verdict_only:
            return None if _validate(doc, schema_data, "") is None else _SCREEN_ISSUE
        return _issue_record(doc, schema_data)
    except RecursionError:
        # walking a document nested past the interpreter's recursion limit:
        # fail closed on this row, not the whole task
        return _json_issue(raw, _TOO_DEEP)


class GateMetrics:
    """Screen/walk coverage counters for the dynamic (UDF-backed) gate.

    Spark accumulators, so counts aggregate across all executors and ship
    back with task results — zero extra actions, negligible overhead.  Pass
    an instance to `apply_gate`/`gate_filter` via `metrics=`, run an action,
    then read `as_dict()`:

        m = GateMetrics(spark)
        gate_filter(df, schema, json_col="props", metrics=m).count()
        m.as_dict()  # {'screened_valid': ..., 'screened_invalid': ...,
                     #  'walked': ..., 'fallback_rows': ..., 'screen_rate': ...}

    screened_valid / screened_invalid are rows the columnar screen decided
    without the per-row dict walk (invalid only counts in verdict-only
    consumers like gate_filter); walked are rows that ran the exact walk;
    fallback_rows are rows of batches the screen still refuses whole (a
    subset of walked): a parse it cannot isolate, a document nested past
    its depth bound, or a planned column it cannot judge.  A defective row
    in an otherwise screenable batch walks alone and is not counted here.
    The native typed-column gate has no Python stage, so these counters
    stay zero there — the screen is the DYNAMIC gate's multiplier
    and this is the regression signal for it (VERDICT round-3 ask #4).

    NOTE: one Spark ACTION may evaluate the UDF more than once (e.g. a
    query that both filters and counts the same stage twice without a
    cache); treat ratios, not absolute counts, as the stable signal.
    """

    def __init__(self, spark_or_sc):
        sc = getattr(spark_or_sc, "sparkContext", spark_or_sc)
        self.screened_valid = sc.accumulator(0)
        self.screened_invalid = sc.accumulator(0)
        self.walked = sc.accumulator(0)
        self.fallback_rows = sc.accumulator(0)

    def as_dict(self) -> dict:
        sv = self.screened_valid.value
        si = self.screened_invalid.value
        w = self.walked.value
        total = sv + si + w
        return {
            "screened_valid": sv,
            "screened_invalid": si,
            "walked": w,
            "fallback_rows": self.fallback_rows.value,
            "screen_rate": round((sv + si) / total, 4) if total else None,
        }


def _gate_rows(
    s: pd.Series, schema_data: Any, plan, verdict_only: bool = False,
    metrics: "GateMetrics | None" = None,
) -> pd.DataFrame:
    """One batch of JSON texts -> issue records.  When the schema has a
    columnar screening plan, the batch is parsed once by pyarrow and rows
    proven CERTAINLY VALID skip the per-row walk entirely; with
    verdict_only=True (gate_filter: the issue struct is dropped), rows
    proven CERTAINLY INVALID skip it too, receiving a placeholder issue.
    All remaining rows (and whole batches the screen cannot vouch for) run
    the exact dict-tree walk — see gate/columnar.py for the two-sided
    soundness contract.  In verdict-only mode a walked invalid row also
    gets the placeholder."""
    import numpy as np

    from jsonschema_jl_spark.gate.columnar import screen_batch

    masks = screen_batch(s, plan) if plan is not None else None
    n = len(s)
    vals = s.to_numpy(dtype=object)
    cols = {f: np.full(n, None, dtype=object) for f in _ISSUE_FIELDS}
    if masks is None:
        walk_idx = range(n)
        if metrics is not None:
            metrics.fallback_rows.add(n)
            metrics.walked.add(n)
    else:
        certainly_valid, certainly_invalid = masks
        if verdict_only:
            walk_idx = np.flatnonzero(~(certainly_valid | certainly_invalid))
            for f in _ISSUE_FIELDS:
                cols[f][certainly_invalid] = _SCREEN_ISSUE[f]
            if metrics is not None:
                metrics.screened_invalid.add(int(certainly_invalid.sum()))
        else:
            walk_idx = np.flatnonzero(~certainly_valid)
        if metrics is not None:
            metrics.screened_valid.add(int(certainly_valid.sum()))
            metrics.walked.add(int(len(walk_idx)))
    for i in walk_idx:
        rec = _walk_record(vals[i], schema_data, verdict_only)
        if rec is not None:
            for f in _ISSUE_FIELDS:
                cols[f][i] = rec[f]
    return pd.DataFrame(cols)


def _make_gate_udf(
    schema_data: Any, verdict_only: bool = False, metrics: GateMetrics | None = None
):
    """Arrow-batched scalar pandas UDF: JSON text -> issue struct.

    The compiled schema dict (and its columnar screening plan, when one
    exists) is captured by closure and shipped once per task via the
    pickled UDF (broadcast-equivalent in local mode).  Absent keys stay
    absent (json.loads dict), so required/absent-vs-null semantics match
    the reference exactly (src/validation.jl:755-766).  `metrics`
    accumulators (also closure-captured; accumulators pickle as ids and
    ship worker-side updates back with task results) count the
    screen/walk split per batch."""
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    plan = plan_screen_conj(schema_data)

    @F.pandas_udf(ISSUE_TYPE)
    def gate_udf(batch_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batch_iter:
            yield _gate_rows(
                s, schema_data, plan, verdict_only=verdict_only, metrics=metrics
            )

    return gate_udf


def compile_issue_column(
    df: DataFrame,
    schema: Schema | dict | bool | str,
    json_col: str | None = None,
    verdict_only: bool = False,
    metrics: GateMetrics | None = None,
) -> tuple[Column, bool]:
    """Return (issue Column, used_native).  verdict_only allows the columnar
    screen to short-circuit certainly-invalid rows with a placeholder issue
    (callers that drop the issue struct, i.e. gate_filter)."""
    if not isinstance(schema, Schema):
        schema = Schema(schema)
    if json_col is not None:
        udf = _make_gate_udf(schema.data, verdict_only=verdict_only, metrics=metrics)
        return udf(F.col(json_col)), False
    try:
        checks = compile_native_checks(schema, df.schema)
        return checks_to_issue_column(checks), True
    except NotNativelyCompilable:
        udf = _make_gate_udf(schema.data, verdict_only=verdict_only, metrics=metrics)
        return udf(F.to_json(F.struct(*[F.col(c) for c in df.columns]))), False


def apply_gate(
    df: DataFrame,
    schema: Schema | dict | bool | str,
    json_col: str | None = None,
    issue_col: str = "issue",
    valid_col: str = "isvalid",
    _verdict_only: bool = False,
    metrics: GateMetrics | None = None,
) -> DataFrame:
    """Annotate every row with its first validation issue (or NULL).
    `metrics` (optional GateMetrics) counts the columnar-screen/dict-walk
    split when the dynamic UDF backend runs; the native typed backend has
    no Python stage and leaves it untouched."""
    issue, used_native = compile_issue_column(
        df, schema, json_col, verdict_only=_verdict_only, metrics=metrics
    )
    if not used_native:
        # UDF returns a struct of NULL fields for valid rows; normalize to a
        # truly-NULL struct so `issue IS NULL` <=> valid (SURVEY §1.2)
        issue = F.when(issue["reason"].isNotNull(), issue).otherwise(
            F.lit(None).cast(ISSUE_TYPE)
        )
    out = df.withColumn(issue_col, issue)
    return out.withColumn(valid_col, F.col(issue_col).isNull())


def gate_filter(
    df: DataFrame,
    schema: Schema | dict | bool | str,
    json_col: str | None = None,
    metrics: GateMetrics | None = None,
    dynamic_native: bool = False,
) -> DataFrame:
    """Keep only valid rows.  Native schemas become plain pushdown-capable
    predicates; residual schemas get a native necessary-condition prefilter
    before the pandas-UDF verdict.  Dynamic mode (`json_col`) always runs
    the columnar screen with the exact dict walk behind it, so `metrics`
    reports the corpus-wide screen/walk split on every call.

    `dynamic_native` selects nothing: it is kept so existing callers run."""
    if not isinstance(schema, Schema):
        schema = Schema(schema)
    if json_col is None:
        try:
            checks = compile_native_checks(schema, df.schema)
            cond = None
            for chk in checks:
                c = ~chk.fail  # never NULL (GateCheck invariant) => pushable
                cond = c if cond is None else (cond & c)
            return df if cond is None else df.filter(cond)
        except NotNativelyCompilable:
            pre = necessary_condition(schema, df.schema)
            if pre is not None:
                df = df.filter(pre)
    gated = apply_gate(
        df, schema, json_col=json_col, issue_col="__issue", valid_col="__ok",
        _verdict_only=True,  # issue struct dropped below: the columnar
        metrics=metrics,     # screen may fast-reject certainly-invalid rows
    )
    return gated.filter(F.col("__ok")).drop("__issue", "__ok")
