"""Operator contract.

Reference contract (``framework/operator.py``):
- Refiner adds columns (``:206-223``), Filter drops rows (``:226-238``),
  Deduplicator keeps first-seen per derived key (``:271-382``);
- every kind can emit its rejected rows annotated with
  ``_rejection_details = {reason, operator, dedup_key, representative_id}``
  (``:259-262,345-352``).

Spark shape: an Operator is a named ``DataFrame -> DataFrame``; when
rejected-row collection is on, ``split()`` returns (passed, rejected) where
rejected is derived from the same plan (a negated filter / window rank > 1 —
the anti-join the reference materializes imperatively).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REJECTION_COL = "_rejection_details"


@dataclass(frozen=True)
class OperatorResult:
    passed: DataFrame
    rejected: DataFrame | None


def rejection_details(
    reason: str,
    operator: str,
    dedup_key: Column | None = None,
    representative_id: Column | None = None,
) -> Column:
    """Build the ``_rejection_details`` struct (reference
    ``framework/operator.py:259-262,345-352``)."""
    return F.struct(
        F.lit(reason).alias("reason"),
        F.lit(operator).alias("operator"),
        (dedup_key if dedup_key is not None else F.lit(None).cast("string")).alias(
            "dedup_key"
        ),
        (
            representative_id
            if representative_id is not None
            else F.lit(None).cast("string")
        ).alias("representative_id"),
    )


class Operator:
    """Named DataFrame transform with optional rejected-row side output."""

    kind = "operator"

    def __init__(self, name: str):
        self.name = name

    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def split(self, df: DataFrame) -> OperatorResult:
        """Default: no rejected stream (Refiners never reject)."""
        return OperatorResult(self.apply(df), None)

    def release(self) -> None:
        """Release any cached/persisted state the operator accumulated
        while building plans (no-op for stateless operators). Call after
        the plans returned by ``apply``/``split`` have been materialized —
        releasing earlier is safe but forces a recompute."""

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)


class RefinerOperator(Operator):
    """Adds columns; never drops rows (``framework/operator.py:206-223``)."""

    kind = "refiner"

    def __init__(
        self,
        name: str,
        columns: dict[str, Column],
        hidden: dict[str, Column] | None = None,
    ):
        super().__init__(name)
        self.columns = columns
        # projected before ``columns`` (which may read them), dropped after
        self.hidden = hidden or {}

    def apply(self, df: DataFrame) -> DataFrame:
        if not self.hidden:
            return df.withColumns(self.columns)
        return df.withColumns(self.hidden).withColumns(self.columns).drop(*self.hidden)


def struct_refiner(name: str, struct: Column, fields: Iterable[str]) -> RefinerOperator:
    """Refiner adding ``fields`` of ONE struct-valued expression — a kernel
    UDF returning several columns. Kernel UDFs are non-deterministic (the
    barrier against re-evaluation, see ``operators/multimodal.py``), so
    Catalyst cannot merge ``udf(col)[f]`` reads: one read per field runs
    the UDF once per field. The struct goes into a hidden column first,
    so the UDF runs once per row and the fields are plain extractions."""
    hidden = f"__{name}_struct"
    return RefinerOperator(
        name, {f: F.col(hidden)[f] for f in fields}, hidden={hidden: struct}
    )


class FilterOperator(Operator):
    """Keeps rows matching a predicate (``framework/operator.py:226-238``).

    ``requires`` declares the columns the predicate reads — the compiler
    uses it to hoist cheap filters ahead of refiners when provably safe
    (the reference's manual cheap-filters-first YAML ordering, SURVEY §4).
    """

    kind = "filter"

    def __init__(self, name: str, predicate: Column, requires: set[str] | None = None):
        super().__init__(name)
        self.predicate = predicate
        self.requires = requires

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self.predicate)

    def split(self, df: DataFrame) -> OperatorResult:
        passed = df.filter(self.predicate)
        rejected = df.filter(~F.coalesce(self.predicate, F.lit(False))).withColumn(
            REJECTION_COL, rejection_details("filtered", self.name)
        )
        return OperatorResult(passed, rejected)


class DedupOperator(Operator):
    """First-seen-wins global dedup by derived key.

    The reference's distributed seen-set actor service (``framework/
    backend.py:13-225``, ``hash(key) % num_buckets`` sharding) is exactly a
    hash-shuffle: ``row_number() OVER (PARTITION BY key ORDER BY order)``.
    Arrival order is nondeterministic in the reference (``backend.py:39-47``);
    we define the deterministic policy winner = min(order_col) per key.
    """

    kind = "deduplicator"

    def __init__(self, name: str, key: Column, order_col: str):
        super().__init__(name)
        self.key = key
        self.order_col = order_col

    def _ranked(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("_dedup_key").orderBy(F.col(self.order_col))
        return (
            df.withColumn("_dedup_key", self.key)
            .withColumn("_dedup_rank", F.row_number().over(w))
            .withColumn(
                "_dedup_rep", F.first(self.order_col).over(w).cast("string")
            )
        )

    def apply(self, df: DataFrame) -> DataFrame:
        ranked = self._ranked(df)
        return ranked.filter(F.col("_dedup_rank") == 1).drop(
            "_dedup_key", "_dedup_rank", "_dedup_rep"
        )

    def split(self, df: DataFrame) -> OperatorResult:
        ranked = self._ranked(df).cache()
        passed = ranked.filter(F.col("_dedup_rank") == 1).drop(
            "_dedup_key", "_dedup_rank", "_dedup_rep"
        )
        rejected = (
            ranked.filter(F.col("_dedup_rank") > 1)
            .withColumn(
                REJECTION_COL,
                rejection_details(
                    "duplicate",
                    self.name,
                    dedup_key=F.col("_dedup_key").cast("string"),
                    representative_id=F.col("_dedup_rep"),
                ),
            )
            .drop("_dedup_key", "_dedup_rank", "_dedup_rep")
        )
        return OperatorResult(passed, rejected)


class LambdaOperator(Operator):
    """Wrap an arbitrary ``DataFrame -> DataFrame`` (for composed ops)."""

    def __init__(self, name: str, fn: Callable[[DataFrame], DataFrame], kind: str = "operator"):
        super().__init__(name)
        self.fn = fn
        self.kind = kind

    def apply(self, df: DataFrame) -> DataFrame:
        return self.fn(df)


def chain(df: DataFrame, *ops: Operator) -> DataFrame:
    """Apply operators in order — the reference's ``CombinedOperator``
    (``framework/operator.py:385-441``); Catalyst collapses the chain into
    fused stages automatically."""
    for op in ops:
        df = op.apply(df)
    return df
