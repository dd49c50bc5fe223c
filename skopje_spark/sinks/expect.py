"""Write-side EXPECTATIONS — Delta Live Tables' data-quality contract
over the versioned store.

The reference's load path trusts Postgres constraints to reject bad
batches wholesale (`/root/reference/src/load/pg.rs:59-112`); the
versioned store's CHECK constraints (sinks/versioned.py:
set_check_constraint) reproduce that all-or-nothing gate. Real
curation pipelines need the softer grades in between — DLT's
expectation ladder:

- ``warn``  — admit everything, RECORD how much violated (the
  monitoring grade: a language-ID drift shows up in commit metadata
  before anyone trusts the batch);
- ``drop``  — admit only passing rows, record per-expectation drop
  counts (the routine curation grade: malformed docs silently
  excluded, audit trail kept);
- ``quarantine`` — like drop, but violating rows are committed to a
  SIDE versioned table with a ``_violations`` column naming every
  failed expectation and a back-pointer to the main commit (the
  triage grade: nothing is lost, re-admission after a fix is a MERGE
  away);
- ``fail``  — any violation aborts the whole write with metrics in
  the exception (CHECK-constraint strictness, expectation-shaped).

Every mode records the full per-expectation violation counts in the
COMMIT METADATA (``expectations`` json), so quality history rides the
table's own version history — ``versioned_history`` is the DLT event
log.

Expectation semantics are DLT's: a row PASSES iff the condition
evaluates TRUE; NULL (three-valued SQL) and FALSE are both
violations — an expectation over a NULL-able column never silently
admits the NULLs.

Scale: the metrics pass is ONE whole-stage-codegen aggregate (every
expectation folded into the same scan); the admit/quarantine writes
are plain filtered writes of the same plan — no UDFs, no
driver-side row handling, nothing all-pairs. For a 100 TB batch,
cache/checkpoint the input upstream if recomputing it twice matters;
the module deliberately does not persist behind the caller's back.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skopje_spark.sinks.versioned import versioned_write

__all__ = [
    "ExpectationViolation",
    "expectation_gate",
    "expectation_metrics",
    "expectations_write",
]

_MODES = ("warn", "drop", "quarantine", "fail")


class ExpectationViolation(RuntimeError):
    """A ``fail``-mode expectations write found violating rows;
    nothing was committed. Carries ``metrics`` —
    ``{expectation name: violation count}`` — so the operator can see
    WHAT failed without re-running the batch."""

    def __init__(self, msg: str, metrics: dict[str, int]):
        super().__init__(msg)
        self.metrics = metrics


def _flags(df: DataFrame, expectations: dict[str, str]):
    """One PASS flag per expectation, DLT semantics: TRUE passes,
    FALSE and NULL violate (coalesce before negation, the same
    three-valued discipline versioned_merge applies to its clause
    conditions)."""
    if not expectations:
        raise ValueError("expectations must name at least one condition")
    out = {}
    for name, cond in expectations.items():
        if not isinstance(cond, str) or not cond.strip():
            raise ValueError(f"expectation {name!r} has an empty condition")
        out[name] = F.coalesce(F.expr(cond).cast("boolean"), F.lit(False))
    return out


def expectation_metrics(
    df: DataFrame, expectations: dict[str, str]
) -> dict:
    """Violation counts without writing anything — the dry-run /
    monitoring half: ``{"rows_in": N, "violations": {name: n}}``.
    ONE aggregate job regardless of how many expectations."""
    flags = _flags(df, expectations)
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum((~flag).cast("long")).alias(f"__v_{i}")
            for i, flag in enumerate(flags.values())
        ],
    ).collect()[0]
    return {
        "rows_in": int(row["__n"]),
        "violations": {
            name: int(row[f"__v_{i}"] or 0)
            for i, name in enumerate(flags)
        },
    }


def expectation_gate(
    df: DataFrame,
    expectations: dict[str, str],
    on_violation: str,
    *,
    prefix: str = "",
    suffix: str = "",
) -> tuple:
    """THE expectation ladder (module docstring) over ``df``, shared by
    :func:`expectations_write` and live pipeline nodes: returns
    ``(admitted, rows_written, quarantine rows or None, commit markers,
    metrics)``. The markers are ``expectations`` (json: per-expectation
    condition and violation count), ``expectations_mode``, ``rows_in``
    and ``rows_written``; quarantine rows carry every source column plus
    ``_violations``, the names of the expectations they failed. A
    ``fail``-mode violation raises :class:`ExpectationViolation`, its
    message framed by ``prefix`` and ``suffix`` (the caller's context).

    Jobs: the metrics pass, plus — only when rows are dropped — one
    sum of the any-violation flag (per-expectation counts overlap, so
    ``rows_written`` needs its own count)."""
    if on_violation not in _MODES:
        raise ValueError(
            f"on_violation={on_violation!r} must be one of {_MODES}"
        )
    flags = _flags(df, expectations)
    m = expectation_metrics(df, expectations)
    rows_in, violations = m["rows_in"], m["violations"]
    total = sum(violations.values())
    if on_violation == "fail" and total:
        raise ExpectationViolation(
            f"{prefix}{total} expectation violation(s) across "
            f"{[n for n, v in violations.items() if v]} — nothing "
            f"committed{suffix}",
            violations,
        )
    markers = {
        "expectations": json.dumps(
            {
                n: {"condition": expectations[n], "violations": violations[n]}
                for n in expectations
            },
            sort_keys=True,
        ),
        "expectations_mode": on_violation,
        "rows_in": str(rows_in),
    }
    admitted, n_written, bad = df, rows_in, None
    if on_violation != "warn" and total:
        all_ok = reduce(lambda a, b: a & b, flags.values())
        admitted = df.filter(all_ok)
        n_written = rows_in - int(
            df.agg(F.sum((~all_ok).cast("long"))).collect()[0][0] or 0
        )
        if on_violation == "quarantine":
            viol_names = F.filter(
                F.array(
                    *[
                        F.when(~flag, F.lit(n)).otherwise(F.lit(None))
                        for n, flag in flags.items()
                    ]
                ),
                lambda x: x.isNotNull(),
            ).alias("_violations")
            bad = df.filter(~all_ok).select("*", viol_names)
    markers["rows_written"] = str(n_written)
    return admitted, n_written, bad, markers, m


def expectations_write(
    df: DataFrame,
    path: str,
    expectations: dict[str, str],
    *,
    on_violation: str = "quarantine",
    quarantine_path: str | None = None,
    meta: dict[str, str] | None = None,
    **write_kw,
) -> dict:
    """Commit ``df`` to the versioned table at ``path`` under the
    expectation ladder (module docstring). Returns
    ``{"version", "rows_in", "rows_written", "rows_quarantined",
    "violations": {name: n}, "quarantine_version"}``.

    ``expectations`` maps name → SQL condition over ``df``'s columns
    (evaluated per row; TRUE passes). ``on_violation`` ∈ {"warn",
    "drop", "quarantine", "fail"}. ``write_kw`` forwards to
    :func:`versioned_write` (partition_by, expected_version, …), so
    the expectations gate composes with partition layout, guarded
    CAS commits, and the table's own CHECK constraints (which still
    enforce after the gate — the hard floor under the soft ladder).

    Quarantined rows carry every source column plus ``_violations``
    (array of failed expectation names) and land in their own
    versioned table at ``quarantine_path`` (default
    ``<path>_quarantine``) with commit metadata back-pointing to the
    main commit — re-admission after a fix is a key-join away, and
    the quarantine table has history like any other."""
    admitted, n_written, bad, markers, m = expectation_gate(
        df, expectations, on_violation, suffix=f" to {path}"
    )
    v = versioned_write(
        admitted, path, meta={**(meta or {}), **markers}, **write_kw
    )
    q_version = None
    if bad is not None:
        q_version = versioned_write(
            bad,
            quarantine_path or f"{path.rstrip('/')}_quarantine",
            meta={
                "quarantine_of": path,
                "quarantine_source_version": str(v),
                "expectations": markers["expectations"],
            },
        )
    return {
        "version": v,
        "rows_in": m["rows_in"],
        "rows_written": n_written,
        "rows_quarantined": m["rows_in"] - n_written if bad is not None else 0,
        "violations": m["violations"],
        "quarantine_version": q_version,
    }
