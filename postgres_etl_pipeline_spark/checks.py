"""Validation / data-quality combinators — the reference's core competency
(SURVEY §2.6 V1–V8), re-expressed as DataFrame assertions.

Design: each check returns a :class:`CheckResult` (never raises mid-plan);
``enforce`` raises :class:`DataContractError` aggregating the first 5
violations sorted by path — the same error surface as the reference's JSON
Schema validation (``grocery_validate_dag.py:56-60``).

Scale: every check compiles to one Spark aggregation (count of violators)
— violations are counted distributed and only the first N sample rows are
collected for the report.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_REPORTED = 5  # grocery_validate_dag.py:58 reports the first 5 errors


class DataContractError(ValueError):
    """Contract violation — mirrors the reference's DataContractError
    (``grocery_validate_dag.py:44-62``)."""


@dataclass
class CheckResult:
    name: str
    ok: bool
    violations: int = 0
    samples: list[str] = field(default_factory=list)

    def message(self) -> str:
        head = f"{self.name}: {'ok' if self.ok else f'{self.violations} violation(s)'}"
        return head + ("" if self.ok else f"; first: {self.samples[:MAX_REPORTED]}")


def enforce(*results: CheckResult) -> None:
    """Raise if any check failed, reporting ≤5 path-sorted errors (V1)."""
    failed = [r for r in results if not r.ok]
    if failed:
        msgs = sorted(m for r in failed for m in (r.samples or [r.name]))[:MAX_REPORTED]
        raise DataContractError(
            f"{sum(r.violations for r in failed)} contract violation(s): {msgs}"
        )


# --- V1: required-field / typed contract over a payload DataFrame ---------


def required_fields(df: DataFrame, fields_: list[str], name: str = "required") -> CheckResult:
    """V1 — required fields non-null (``grocery_validate_dag.py:26``:
    event_time, txn_id, store_id, sku, quantity, tender_type)."""
    if not fields_:  # vacuous pass, not a filter(None) crash
        return CheckResult(name, True)
    present = set(df.columns)  # one schema fetch, not one per field
    missing_schema = [f for f in fields_ if f not in present]
    if missing_schema:
        return CheckResult(
            name, False, len(missing_schema),
            [f"$.{f}: missing from schema" for f in sorted(missing_schema)],
        )
    cond = None
    for f_ in fields_:
        c = F.col(f_).isNull()
        cond = c if cond is None else (cond | c)
    viol = df.filter(cond)
    agg = viol.select(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(f_).isNull().cast("long")).alias(f_) for f_ in fields_],
    ).collect()[0]
    n = agg["n"]
    samples = [f"$.{f_}: {agg[f_]} null(s)" for f_ in sorted(fields_) if agg[f_]]
    return CheckResult(name, n == 0, n, samples)


# --- V2: corrupt-record detection (PERMISSIVE reads) -----------------------


def no_corrupt_records(
    df: DataFrame, corrupt_col: str = "_corrupt_record", name: str = "well_formed"
) -> CheckResult:
    """V2 — malformed-JSON detection: PERMISSIVE reads park unparseable
    input in ``_corrupt_record`` (``grocery_validate_dag.py:52-54``;
    injected by ``app.py:75-79`` / torn writes ``io_utils.py:76-89``)."""
    if corrupt_col not in df.columns:
        return CheckResult(name, True)
    # Spark disallows queries whose pruned schema is ONLY the corrupt-record
    # column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — keep one data column in the
    # projection so the scan stays legal without caching the whole input.
    anchor = next((c for c in df.columns if c != corrupt_col), None)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    if anchor is not None:
        bad = bad.select(corrupt_col, anchor)
    rows = bad.take(MAX_REPORTED + 1)
    samples = [r[0][:80] for r in rows[:MAX_REPORTED]]
    if len(rows) <= MAX_REPORTED:
        n = len(rows)
    else:
        agg_cols = [F.sum(F.col(corrupt_col).isNotNull().cast("long")).alias("n")]
        if anchor is not None:
            agg_cols.append(F.count(anchor).alias("_anchor"))
        n = df.select(*agg_cols).collect()[0]["n"]
    return CheckResult(name, n == 0, n, [f"$: unparseable: {s!r}" for s in samples])


# --- V3: versioned-contract check ------------------------------------------


def schema_version_is(
    df: DataFrame, version: int, col: str = "schema_version", name: str = "schema_version"
) -> CheckResult:
    """V3 — ``schema_version != 1 → error``
    (``validation_schema_drift_dag.py:62-69``)."""
    if col not in df.columns:
        return CheckResult(name, False, 1, [f"$.{col}: missing from schema"])
    n = df.filter((F.col(col).isNull()) | (F.col(col) != version)).count()
    return CheckResult(name, n == 0, n, [f"$.{col}: expected {version}"] if n else [])


# --- V4: not_null column tests ----------------------------------------------


def not_null(df: DataFrame, cols: list[str], name: str = "not_null") -> CheckResult:
    """V4 — dbt ``not_null`` on every mart column (``schema.yml:4-21``).
    One aggregation for all columns (single pass, partial-agg combined)."""
    # coalesce: SUM over an EMPTY relation is NULL, and zero rows means
    # zero violations (dbt's not_null passes vacuously on empty models too)
    agg = df.select(
        *[
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(c)
            for c in cols
        ]
    ).collect()[0]
    samples = [f"$.{c}: {agg[c]} null(s)" for c in sorted(cols) if agg[c]]
    total = sum(agg[c] for c in cols)
    return CheckResult(name, total == 0, total, samples)


# --- V5: non-empty relation --------------------------------------------------


def non_empty(df: DataFrame, name: str = "non_empty") -> CheckResult:
    """V5 — fail if the relation is empty
    (``dbt_retail/tests/assert_non_empty_mart.sql:1-5``). ``isEmpty`` only
    materializes one partition — O(1), not a full count."""
    empty = df.isEmpty()
    return CheckResult(name, not empty, int(empty), ["$: relation is empty"] if empty else [])


# --- V6: canary row-count threshold ------------------------------------------


def canary_min_rows(
    df: DataFrame, min_rows: int = 10, name: str = "canary"
) -> CheckResult:
    """V6 — ``count < 10 → canary_failed: too_few_rows``
    (``grocery_reconcile_dag.py:24-34``)."""
    return canary_threshold_count(df.count(), min_rows, name)


def canary_threshold_count(
    n: int, min_rows: int = 10, name: str = "canary"
) -> CheckResult:
    """V6 on a precomputed count — lets callers that already counted the
    relation gate without a second scan job."""
    ok = n >= min_rows
    return CheckResult(
        name, ok, 0 if ok else 1,
        [] if ok else [f"$: too_few_rows n={n} min={min_rows}"],
    )


# --- V7/V8: artifact preconditions & payload shape ---------------------------


def artifacts_exist(paths: list[str], name: str = "artifacts") -> CheckResult:
    """V7 — upstream-artifact existence with full missing-list diagnostics
    (``grocery_load_dag.py:34-62`` lists every missing path, not just the
    first)."""
    import os

    missing = sorted(p for p in paths if not os.path.exists(p))
    return CheckResult(
        name, not missing, len(missing), [f"{p}: missing artifact" for p in missing]
    )


def payload_shape(
    df: DataFrame, list_col: str, name: str = "payload_shape"
) -> CheckResult:
    """V8 — payload must carry a list under the expected key
    (``grocery_load_dag.py:69-73`` — the reference's intentional contract
    bug reads 'transactions' where enrich wrote 'enriched'; this check is
    what surfaces that class of bug as a typed error)."""
    if list_col not in df.columns:
        return CheckResult(
            name, False, 1, [f"$.{list_col}: missing from payload schema"]
        )
    n = df.filter(F.col(list_col).isNull()).count()
    return CheckResult(name, n == 0, n, [f"$.{list_col}: null list"] if n else [])


# --- combined single-pass gates ---------------------------------------------
# Every check above costs one Spark action; a pipeline stage running three
# gates back-to-back pays three scheduling round-trips over the same data.
# These combinators compute MULTIPLE CheckResults from ONE aggregation —
# same results, one scan job (the round-4 small-scale-overhead advice; at
# 100 TB it's one pass over the relation instead of N).


def required_and_not_null(
    df: DataFrame,
    required: list[str],
    extra_cols: list[str],
    req_name: str = "required",
    extra_name: str = "not_null",
    with_count: bool = False,
) -> tuple:
    """V1 + V4 in ONE aggregation: required-field nulls (row-level any-null
    count + per-field breakdown) and extra not_null column counts.

    ``with_count=True`` appends the relation's total row count as a third
    return value — it rides the same aggregate for free, so a pipeline
    that needs "rows staged" (A4) never pays a separate count() action
    over data the gate just scanned. On the missing-schema failure path
    the count is 0 (the gate fails before any caller can use it)."""
    present = set(df.columns)  # one schema fetch, not one per field
    missing_schema = [f for f in required + extra_cols if f not in present]
    if missing_schema:
        failed = (
            CheckResult(
                req_name, False, len(missing_schema),
                [f"$.{f}: missing from schema" for f in sorted(missing_schema)],
            ),
            CheckResult(extra_name, False, 0, []),
        )
        return (*failed, 0) if with_count else failed
    # An empty `required` list must not crash the combined gate (advice r05):
    # no required fields ⇒ no row can violate them ⇒ any_null ≡ false.
    any_null = F.lit(False)
    for f_ in required:
        any_null = any_null | F.col(f_).isNull()
    cols = list(dict.fromkeys(required + extra_cols))
    agg = df.select(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(F.sum(any_null.cast("long")), F.lit(0)).alias("_rows"),
        *[
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(c)
            for c in cols
        ],
    ).collect()[0]
    req_samples = [f"$.{f}: {agg[f]} null(s)" for f in sorted(required) if agg[f]]
    req = CheckResult(req_name, agg["_rows"] == 0, agg["_rows"], req_samples)
    extra_total = sum(agg[c] for c in extra_cols)
    extra_samples = [
        f"$.{c}: {agg[c]} null(s)" for c in sorted(extra_cols) if agg[c]
    ]
    extra = CheckResult(extra_name, extra_total == 0, extra_total, extra_samples)
    return (req, extra, int(agg["_n"])) if with_count else (req, extra)


def not_null_and_non_empty(
    df: DataFrame,
    cols: list[str],
    nn_name: str = "not_null",
    ne_name: str = "non_empty",
) -> tuple[CheckResult, CheckResult]:
    """V4 + V5 in ONE aggregation (dbt runs them as separate tests; the
    engine folds them into one scan)."""
    agg = df.select(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(c)
            for c in cols
        ],
    ).collect()[0]
    samples = [f"$.{c}: {agg[c]} null(s)" for c in sorted(cols) if agg[c]]
    total = sum(agg[c] for c in cols)
    nn = CheckResult(nn_name, total == 0, total, samples)
    empty = agg["_n"] == 0
    ne = CheckResult(
        ne_name, not empty, int(empty), ["$: relation is empty"] if empty else []
    )
    return nn, ne


def corrupt_and_shape(
    df: DataFrame,
    list_col: str,
    corrupt_col: str = "_corrupt_record",
    wf_name: str = "well_formed",
    shape_name: str = "payload_shape",
) -> tuple[CheckResult, CheckResult]:
    """V2 + V8 in ONE aggregation on the happy path; corrupt SAMPLES cost a
    second (failure-path-only) job, so a clean payload still pays one scan."""
    if list_col not in df.columns:
        return (
            no_corrupt_records(df, corrupt_col, wf_name),
            CheckResult(
                shape_name, False, 1, [f"$.{list_col}: missing from payload schema"]
            ),
        )
    if corrupt_col not in df.columns:
        agg = df.select(
            F.coalesce(F.sum(F.col(list_col).isNull().cast("long")), F.lit(0)).alias("_s")
        ).collect()[0]
        shape = CheckResult(
            shape_name, agg["_s"] == 0, agg["_s"],
            [f"$.{list_col}: null list"] if agg["_s"] else [],
        )
        return CheckResult(wf_name, True), shape
    agg = df.select(
        F.coalesce(F.sum(F.col(corrupt_col).isNotNull().cast("long")), F.lit(0)).alias("_c"),
        F.coalesce(F.sum(F.col(list_col).isNull().cast("long")), F.lit(0)).alias("_s"),
    ).collect()[0]
    n_corrupt, n_shape = agg["_c"], agg["_s"]
    samples: list[str] = []
    if n_corrupt:  # failure path only: fetch the first few corrupt texts
        anchor = next((c for c in df.columns if c != corrupt_col), None)
        bad = df.filter(F.col(corrupt_col).isNotNull())
        if anchor is not None:
            bad = bad.select(corrupt_col, anchor)
        samples = [
            f"$: unparseable: {r[0][:80]!r}" for r in bad.take(MAX_REPORTED)
        ]
    wf = CheckResult(wf_name, n_corrupt == 0, n_corrupt, samples)
    shape = CheckResult(
        shape_name, n_shape == 0, n_shape,
        [f"$.{list_col}: null list"] if n_shape else [],
    )
    return wf, shape


def quarantine_split(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """The quarantine workflow the reference's README promises but never
    implements (SURVEY §0): split a PERMISSIVE read into (good, bad).

    ``good`` drops the corrupt column and continues down the pipeline;
    ``bad`` carries the original unparseable text for the quarantine sink.
    Both sides are lazy filters over one scan — no extra pass.
    """
    if corrupt_col not in df.columns:
        return df, df.limit(0)
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    return good, bad
