"""Data-quality assertions as first-class operators.

The reference enforces invariants by abort()/exit() mid-scan
(duplicate sort keys erigon_extract.c:2131-2157; non-contiguous blocks
1852-1868; storage incarnation 0 → 1130-1136; malformed lengths
1561-1576). In a distributed engine the equivalent is
"job fails if the violation set is non-empty" — expressed as a DataFrame
that SHOULD be empty plus an action that raises when it isn't.

Each check is a single aggregation (one shuffle) and short-circuits via
``limit(k)`` so a passing check never materializes more than a sample.

``assert_in_row`` is the streaming form, closest to the reference's
mid-scan abort: no job of its own, the check rides in the consumer's
pass and fails the task that meets the first violating row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class AssertionViolation(RuntimeError):
    """Raised when a data-quality invariant fails; carries sample rows."""

    def __init__(self, name: str, sample_rows):
        self.name = name
        self.sample_rows = sample_rows
        super().__init__(f"{name}: {len(sample_rows)} sample violation(s): {sample_rows}")


def assert_empty(df: DataFrame, name: str = "assert_empty", sample: int = 5) -> None:
    rows = df.limit(sample).collect()
    if rows:
        raise AssertionViolation(name, rows)


def assert_in_row(
    df: DataFrame,
    on: str,
    violation: F.Column,
    name: str,
    detail: F.Column,
) -> DataFrame:
    """Lazy per-row check: ``on`` passes through unchanged, and a row where
    ``violation`` is true raises ``"<name>: <detail>"`` when evaluated (a
    NULL verdict passes, as it does for the ``filter`` + ``assert_empty``
    form).

    The check is a projection, not a filter: Catalyst pushes a filter
    below a Python UDF's projection and evaluates the UDF twice. Pick an
    ``on`` column every consumer reads (a join, partition or output key),
    or column pruning drops the check with it."""
    msg = F.concat(F.lit(f"{name}: "), detail)
    return df.withColumn(on, F.when(violation, F.raise_error(msg)).otherwise(F.col(on)))


def assert_unique_keys(df: DataFrame, key_cols: Sequence[str], name: str | None = None) -> None:
    """Reference A3: duplicate full sort key aborts (erigon_extract.c:2153-2155)."""
    dupes = df.groupBy(*key_cols).count().filter(F.col("count") > 1)
    assert_empty(dupes, name or f"unique_keys{tuple(key_cols)}")


def assert_contiguous(
    df: DataFrame,
    seq_col: str,
    key_cols: Sequence[str] = (),
    name: str | None = None,
) -> None:
    """Reference W6: blocks / tx indexes must step by exactly 1
    (erigon_extract.c:1852-1868, 1951-1958). Checks DISTINCT values of
    seq_col per key advance by 1."""
    w = (
        Window.partitionBy(*key_cols).orderBy(F.col(seq_col).asc())
        if key_cols
        else Window.partitionBy(F.lit(1)).orderBy(F.col(seq_col).asc())
    )
    gaps = (
        df.select(*key_cols, seq_col)
        .distinct()
        .withColumn("__prev", F.lag(seq_col).over(w))
        .filter(F.col("__prev").isNotNull() & (F.col(seq_col) != F.col("__prev") + 1))
    )
    assert_empty(gaps, name or f"contiguous({seq_col})")


def validation_report(
    df: DataFrame,
    checks: dict[str, F.Column],
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Non-aborting data-quality report: each check is a boolean column
    expression evaluated per row; the report counts violations (rows
    where the check is FALSE or NULL) per check in ONE aggregation pass
    over one scan — the CI-dashboard complement to the abort-semantics
    asserts above (same invariants, observable instead of fatal; a 100 TB
    ingest gates on `passed` rather than dying mid-scan).

    Returns (check_name, n_rows, n_violations, passed) — long format,
    scalar cells (the gate-friendly shape), optionally per ``group_col``.
    """
    if not checks:
        raise ValueError("validation_report needs at least one check")
    gcols = [group_col] if group_col else []
    aggs = [F.count("*").alias("__n")]
    for name, expr in checks.items():
        if "." in name or "`" in name:
            raise ValueError(
                f"check name {name!r} must not contain '.' or '`' "
                "(they break column re-references)"
            )
        aggs.append(
            # coalesce: SUM over ZERO rows is NULL — an empty frame must
            # report 0 violations / passed=True, not a NULL verdict the
            # gate can neither pass nor fail on
            F.coalesce(
                F.sum(F.when(expr.isNull() | ~expr, 1).otherwise(0)),
                F.lit(0),
            ).alias(f"__v_{name}")
        )
    wide = df.groupBy(*gcols).agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__v_{name}").alias("n_violations"),
                (F.col(f"__v_{name}") == 0).alias("passed"),
            )
            for name in checks
        ]
    )
    return wide.select(*gcols, F.explode(rows).alias("r")).select(
        *gcols, "r.*"
    )
