"""Output checks: every checked operation counts as attempted, and a wrong
answer or an exception counts as failed.

The store digest is order-independent: the row count plus the exact sum of
one 64-bit hash per row. Spark computes both sides with the same
expression, so the digest of the written store and the digest of the
pure-Python oracle rows compare exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field

MAX_NOTES = 20


@dataclass
class Checker:
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def expect(self, name: str, got, want) -> bool:
        """Count one operation; it fails unless ``got == want``."""
        self.attempted += 1
        if got == want:
            return True
        self.failed += 1
        if len(self.notes) < MAX_NOTES:
            self.notes.append(f"{name}: got {got!r}, want {want!r}")
        return False

    def error(self, name: str, exc: BaseException) -> None:
        """Count one operation that raised instead of answering."""
        self.attempted += 1
        self.failed += 1
        if len(self.notes) < MAX_NOTES:
            self.notes.append(f"{name}: {type(exc).__name__}: {exc}")

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def spark_digest(df, columns) -> tuple[int, int]:
    """(count, exact sum of xxhash64 over ``columns``) computed in Spark.
    The hash sum is widened to decimal so it cannot overflow."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in columns]).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)
