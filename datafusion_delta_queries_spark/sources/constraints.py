"""Write-path constraint enforcement: Delta Lake's CHECK / NOT NULL
contract over plain parquet tables.

Delta enforces three things at COMMIT time; this module reproduces
all three with the same semantics:

- ``NOT NULL`` columns — any NULL in the batch fails the write;
- ``CHECK`` constraints — named boolean expressions; a row violates
  when the expression is FALSE **or NULL** (Delta treats an
  unevaluable check as a violation — the safe reading, opposite of
  WHERE semantics);
- ``ADD CONSTRAINT`` scans the EXISTING table first and refuses the
  constraint if history already violates it (Delta's
  ``DELTA_NEW_CHECK_CONSTRAINT_VIOLATION`` shape).

Mechanics kept scale-honest:

- Validation is ONE distributed aggregation over the batch: every
  constraint becomes a ``sum(violates)`` column in a single pass, so
  the driver receives exactly one row of counters regardless of
  batch size; the example rows in the error message are fetched only
  on the failure path (``limit(3)``).
- Constraint metadata persists as a JSON sidecar
  (``_constraints.json``) next to the data — the role Delta's
  transaction-log metadata plays — so a table handle reopened later
  enforces the same contract.
- The write itself is append or staged-swap overwrite, the same
  discipline as the DML executors.

Reference parity: none — the reference has no write path at all;
this is lakehouse-surface beyond it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConstraintViolation(ValueError):
    """A batch (or existing history) violates the table contract."""


class ConstrainedTable:
    """A parquet table directory with an enforced write contract."""

    META = "_constraints.json"

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.checks: dict[str, str] = {}
        self.not_null: list[str] = []
        meta = os.path.join(path, self.META)
        if os.path.exists(meta):
            with open(meta) as f:
                saved = json.load(f)
            self.checks = dict(saved.get("checks", {}))
            self.not_null = list(saved.get("not_null", []))

    # -- metadata -------------------------------------------------------

    def _save(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, self.META), "w") as f:
            json.dump(
                {"checks": self.checks, "not_null": self.not_null}, f
            )

    def _read(self) -> DataFrame | None:
        has_data = os.path.isdir(self.path) and any(
            n.endswith(".parquet") for n in os.listdir(self.path)
        )
        return self.spark.read.parquet(self.path) if has_data else None

    def add_check(self, name: str, expr: str) -> None:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``: existing
        rows are scanned FIRST; any violation refuses the constraint
        (you cannot declare a contract history already breaks)."""
        if name in self.checks:
            raise ConstraintViolation(f"constraint {name} already exists")
        existing = self._read()
        if existing is not None:
            self._validate(existing, {name: expr}, [])
        self.checks[name] = expr
        self._save()

    def add_not_null(self, column: str) -> None:
        existing = self._read()
        if existing is not None:
            self._validate(existing, {}, [column])
        if column not in self.not_null:
            self.not_null.append(column)
        self._save()

    def drop_constraint(self, name: str) -> None:
        if name not in self.checks:
            raise ConstraintViolation(f"no such constraint {name}")
        del self.checks[name]
        self._save()

    # -- validation -----------------------------------------------------

    def _validate(
        self,
        df: DataFrame,
        checks: dict[str, str],
        not_null: list[str],
    ) -> None:
        """ONE aggregation pass: a violation counter per constraint;
        the driver sees a single row. FALSE **and NULL** both violate
        a CHECK (Delta semantics)."""
        aggs = []
        preds: dict[str, str] = {}
        for name, expr in checks.items():
            preds[f"check:{name}"] = f"NOT coalesce(({expr}), false)"
        for col in not_null:
            preds[f"not_null:{col}"] = f"{col} IS NULL"
        if not preds:
            return
        for label, viol in preds.items():
            aggs.append(
                F.sum(F.expr(f"CASE WHEN {viol} THEN 1 ELSE 0 END"))
                .cast("bigint")
                .alias(label)
            )
        counts = df.agg(*aggs).collect()[0].asDict()
        bad = {k: v for k, v in counts.items() if v and v > 0}
        if bad:
            first_label = sorted(bad)[0]
            examples = (
                df.where(preds[first_label]).limit(3).collect()
            )
            raise ConstraintViolation(
                f"write violates {bad} — e.g. {first_label}: "
                f"{[tuple(r) for r in examples]!r}"
            )

    def validate(self, df: DataFrame) -> None:
        self._validate(df, self.checks, self.not_null)

    # -- writes ---------------------------------------------------------

    def append(self, df: DataFrame) -> None:
        self.validate(df)
        df.write.mode("append").parquet(self.path)
        self._save()  # first append creates the dir; keep sidecar

    def overwrite(self, df: DataFrame) -> None:
        self.validate(df)
        from .sinks import staged_swap

        staged_swap(self.path, lambda p: df.write.parquet(p))
        self._save()  # the swap retired the old sidecar; restore it

    def read(self) -> DataFrame:
        df = self._read()
        if df is None:
            raise ValueError(f"no data under {self.path}")
        return df


def execute_alter_constraint(
    spark: SparkSession, sql: str, table_path: str
) -> ConstrainedTable:
    """``ALTER TABLE <t> ADD CONSTRAINT <name> CHECK ( <expr> )`` /
    ``ALTER TABLE <t> ALTER COLUMN <c> SET NOT NULL`` /
    ``ALTER TABLE <t> DROP CONSTRAINT <name>`` — the Delta constraint
    DDL, parsed with the shared tokenizer and applied to the sidecar
    metadata (scanning existing data first, as Delta does)."""
    from ..plans.sql_frontend import UnsupportedSQL, _Parser, _tokenize

    p = _Parser(_tokenize(sql))
    p.expect_kw("alter")
    p.expect_kw("table")
    p.next()  # table name: bound by table_path
    t = ConstrainedTable(spark, table_path)
    if p.at_kw("add"):
        p.next()
        p.expect_kw("constraint")
        name = p.next()
        p.expect_kw("check")
        if p.next() != "(":
            raise UnsupportedSQL("expected ( after CHECK")
        depth = 1
        expr_toks: list[str] = []
        while depth:
            tok = p.next()
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
                if depth == 0:
                    break
            expr_toks.append(tok)
        if p.peek() is not None:
            raise UnsupportedSQL(f"trailing tokens: {p.peek()}")
        t.add_check(name, " ".join(expr_toks))
    elif p.at_kw("alter"):
        p.next()
        p.expect_kw("column")
        col = p.next()
        p.expect_kw("set")
        p.expect_kw("not")
        p.expect_kw("null")
        t.add_not_null(col)
    elif p.at_kw("drop"):
        p.next()
        p.expect_kw("constraint")
        t.drop_constraint(p.next())
    else:
        raise UnsupportedSQL(
            "expected ADD CONSTRAINT / ALTER COLUMN ... SET NOT NULL / "
            "DROP CONSTRAINT"
        )
    return t
