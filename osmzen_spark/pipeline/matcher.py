"""Ordered CSV decision tables -> first-match `when` chains
(the reference's sort_rank / scale_rank spreadsheet matcher,
ref:matcher/matcher.go:13-293; SURVEY.md §2.G csv_match_properties).

Cell language (ref:matcher/matcher.go:122-170):
  *        any value (incl. absent)
  -        absent (nil)
  +        present (not nil)
  true     boolean true
  a;b;c    string set membership
  >=x <=x >x <x   numeric comparison (absent -> no match)
  <number> exact numeric (or string-form) match
  <text>   exact string match
  (empty)  exact match against "" — faithfully reproducing the Go
           port, where an empty cell compiles to exactCell("") and in
           practice never matches (properties are nil or non-empty)

Header `col::type` suffixes are display-only; `zoom` is a pseudo-column
bound to the tile zoom (ref:matcher/matcher.go:55-58). The whole table
compiles to ONE generated when-chain per layer — first-match preserved
by chain order, evaluated JVM-side by Catalyst's interpreted eval
(a 4k-arm CASE is cheaper to interpret than to compile for one
request's rows, see session.py). The chain
is emitted as a single SQL CASE string handed to F.expr (one py4j
call, parsed JVM-side) rather than per-row Column.when() round-trips —
the 5-table sort_rank set cost ~5.5 s of pure driver time the old way.
"""

from __future__ import annotations

import csv
import io

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sq(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _cell_to_pred(cell: str, prop: str, is_numeric: bool) -> str | None:
    """SQL predicate text; None means 'always true' (no constraint).
    NULL-valued predicates behave exactly like the old Column chain:
    CASE WHEN treats NULL conditions as no-match."""
    if cell == "*":
        return None
    if cell == "-":
        return f"{prop} is null"
    if cell == "+":
        return f"{prop} is not null"
    if cell == "true":
        return f"cast({prop} as boolean) = true"
    if ";" in cell:
        vals = ", ".join(_sq(v) for v in cell.split(";"))
        return f"cast({prop} as string) in ({vals})"
    for op in (">=", "<=", ">", "<"):
        if cell.startswith(op):
            return f"cast({prop} as double) {op} cast({float(cell[len(op):])!r} as double)"
    try:
        num = float(cell)
    except ValueError:
        return f"cast({prop} as string) = {_sq(cell)}"
    if is_numeric:
        return f"cast({prop} as double) = cast({num!r} as double)"
    # exactFloat64Cell also matches the original string form
    return (
        f"(cast({prop} as double) = cast({num!r} as double)"
        f" or cast({prop} as string) = {_sq(cell)})"
    )


class CSVMatcher:
    """Compiled decision table; apply() adds/overwrites the output column
    on first match, leaves it NULL (property untouched) otherwise."""

    def __init__(self, headers: list[str], rows: list[list[str]]):
        self.output_key = headers[-1].split("::")[0]
        self.props = [h.split("::")[0] for h in headers[:-1]]
        self.rows = rows

    @classmethod
    def from_text(cls, text: str) -> "CSVMatcher":
        records = list(csv.reader(io.StringIO(text)))
        return cls(records[0], records[1:])

    @classmethod
    def from_path(cls, path: str) -> "CSVMatcher":
        from osmzen_spark.confio import read_text

        if path.endswith((".yaml", ".yml")):
            import yaml

            doc = yaml.safe_load(read_text(path))
            return cls([str(c) for c in doc["columns"]], [[str(x) for x in r] for r in doc["rows"]])
        return cls.from_text(read_text(path))

    def value_col(self, df: DataFrame, zoom: int) -> Column:
        dtypes = dict(df.dtypes)

        def prop_sql(name: str) -> tuple[str, bool]:
            if name == "zoom":
                return f"cast({float(zoom)!r} as double)", True
            if name not in df.columns:
                return "null", False
            q = "`" + name.replace("`", "``") + "`"
            return q, dtypes.get(name) in ("double", "float", "int", "bigint", "smallint")

        arms = []
        for row in self.rows:
            preds = []
            for cell, prop_name in zip(row[:-1], self.props):
                p_sql, is_num = prop_sql(prop_name)
                p = _cell_to_pred(cell, p_sql, is_num)
                if p is not None:
                    preds.append(p)
            cond = " and ".join(preds) if preds else "true"
            arms.append(f"when {cond} then cast({float(row[-1])!r} as double)")
        if not arms:
            return F.lit(None).cast("double")
        return F.expr("case " + " ".join(arms) + " end")

    def apply(self, df: DataFrame, zoom: int) -> DataFrame:
        matched = self.value_col(df, zoom)
        if self.output_key in df.columns:
            matched = F.coalesce(matched, F.col(self.output_key))
        return df.withColumn(self.output_key, matched)
