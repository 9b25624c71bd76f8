"""Standardization kernel (SURVEY §2.8 F2-F13, §2.3 P1-P8).

The reference repeats one clean-standardize motif five times (the `vss_*`
functions, silverLayer/BuildSilverLayer.py:139-269): select/rename ->
case-normalize -> regex-gated date parse -> null-default -> drop raw columns.
Here that motif is ONE parameterized operator, `standardize(df, spec)`, built
entirely from JVM-side pyspark.sql.functions (no Python UDFs -- the
reference's one UDF, Helpers_FunctionsDicts.py:66-80, is replaced by a
literal-map expression or a broadcast join, see conform.broadcast_lookup).

Quarantine semantics: the reference silently deletes malformed rows
(rlike gate -> NULL -> dropna, silverLayer/BuildSilverLayer.py:156,292,307 --
SURVEY §4.3#6). `standardize` keeps the capability but makes rejection
observable: `apply_with_quarantine` returns (clean, rejected-with-reason).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


@dataclass
class ColumnSpec:
    """Declarative cleaning rules for one output column."""

    source: str
    name: str | None = None  # output name; defaults to source
    case: str | None = None  # 'upper' | 'lower' | 'initcap'
    # Date parsing: regex gate first (malformed -> NULL, reference F5/F6
    # silverLayer/BuildSilverLayer.py:156), then to_date with the format.
    date_regex: str | None = None
    date_format: str | None = None
    cast: DataType | str | None = None  # uncastable values become NULL
    # NULL and '' both become this default (reference F11/F12,
    # silverLayer/BuildSilverLayer.py:161-163 'Not Provided').
    default: Any | None = None
    # Literal value map applied JVM-side via CASE/create_map -- replaces the
    # reference's broadcast-dict Python UDF (Helpers_FunctionsDicts.py:66-80).
    value_map: dict[str, str] | None = None
    required: bool = False  # participates in the NOT NULL contract / quarantine

    @property
    def out(self) -> str:
        return self.name or self.source


@dataclass
class StandardizeSpec:
    columns: list[ColumnSpec] = field(default_factory=list)
    # Pre-filter applied before any derivation (reference P5 `ACTIVE == 1`,
    # silverLayer/BuildSilverLayer.py:150).
    row_filter: str | Column | None = None


def _clean_expr(spec: ColumnSpec) -> Column:
    col = F.col(spec.source)
    if spec.case == "upper":
        col = F.upper(col)
    elif spec.case == "lower":
        col = F.lower(col)
    elif spec.case == "initcap":
        col = F.initcap(col)
    if spec.date_format is not None:
        parsed = F.to_date(col, spec.date_format)
        if spec.date_regex is not None:
            # when() without otherwise() -> NULL for malformed input; the
            # implicit else-NULL is load-bearing (routes rows to quarantine).
            parsed = F.when(col.rlike(spec.date_regex), parsed)
        col = parsed
    if spec.value_map is not None:
        mapping = F.create_map(*[F.lit(x) for kv in spec.value_map.items() for x in kv])
        col = mapping[col]
    if spec.cast is not None:
        # try_cast: an uncastable value (CERT "10X") becomes NULL and so
        # lands in quarantine; a plain cast raises under ANSI mode.
        col = col.try_cast(spec.cast)
    if spec.default is not None:
        col = F.when(col.isNull() | (col.cast("string") == ""), F.lit(spec.default)).otherwise(col)
    return col.alias(spec.out)


def standardize(df: DataFrame, spec: StandardizeSpec) -> DataFrame:
    """Apply the full clean-standardize motif in one narrow (no-shuffle) pass.

    Output has exactly the spec's columns, in spec order -- projection and
    raw-column drop (P1/P2) fall out of the select.
    """
    if spec.row_filter is not None:
        df = df.filter(spec.row_filter)
    return df.select(*[_clean_expr(c) for c in spec.columns])


def apply_with_quarantine(
    df: DataFrame, spec: StandardizeSpec
) -> tuple[DataFrame, DataFrame]:
    """standardize() + observable rejection.

    Returns (clean, quarantine): rows where any `required` output column is
    NULL land in quarantine with a `_reject_reason` column instead of being
    silently dropped (fixes SURVEY §4.3#6 while preserving the output
    contract -- `clean` matches the reference's post-dropna result).
    """
    out = standardize(df, spec)
    required = [c.out for c in spec.columns if c.required]
    if not required:
        return out, out.limit(0).withColumn("_reject_reason", F.lit(None).cast("string"))
    null_flags = [F.when(F.col(c).isNull(), F.lit(c)) for c in required]
    reason = F.concat_ws(",", F.array_compact(F.array(*null_flags)))
    tagged = out.withColumn("_reject_reason", reason)
    clean = tagged.filter(F.col("_reject_reason") == "").drop("_reject_reason")
    quarantine = tagged.filter(F.col("_reject_reason") != "")
    return clean, quarantine


def null_or_empty_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P7 data-quality probe (reference check_columns_for_null,
    Helpers_FunctionsDicts.py:54-63) as ONE aggregate pass instead of one
    count() job per column."""
    cols = columns or df.columns
    aggs = [
        F.count_if(F.col(c).isNull() | (F.col(c).cast("string") == "")).alias(c)
        for c in cols
    ]
    return df.agg(*aggs)


def select_sort_dated_cols(
    df: DataFrame, first_cols: list[str], sort_desc: bool = True
) -> DataFrame:
    """P8 column reordering (reference select_sort_dated_cols,
    Helpers_FunctionsDicts.py:83-103): fixed head columns, remaining columns
    sorted (desc = newest quarter first). Metadata-only projection."""
    rest = sorted((c for c in df.columns if c not in first_cols), reverse=sort_desc)
    return df.select(*first_cols, *rest)


def column_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data-quality profile: one output row per column with null and
    exact-distinct counts. ONE aggregation pass over the table (every
    stat is an agg expression; the per-column melt happens on the single
    result row) -- never one job per column. At 100 TB swap countDistinct
    for approx_count_distinct; the shape is unchanged."""
    columns = columns or df.columns
    aggs = []
    for c in columns:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__n_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__d_{c}"))
    row = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").cast("long").alias("n_nulls"),
                F.col(f"__d_{c}").cast("long").alias("n_distinct"),
            )
            for c in columns
        ]
    )
    return row.select(F.explode(pairs).alias("p")).select("p.column", "p.n_nulls", "p.n_distinct")


def constraint_report(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Deequ-style data-quality gate: evaluate named constraints in ONE
    aggregation pass and emit a tidy (constraint, observed, passed) report.

    Each rule maps a constraint name to a per-row VIOLATION predicate
    (boolean Column); `observed` is the violation count and `passed` is
    `observed == 0` -- integer semantics end to end, no float thresholds
    to flip between engines. All rules compile into one `agg()` (a single
    scan + partial/final aggregate regardless of rule count); the
    per-constraint melt happens on the one result row, driver-free.

    The reference's dev-time null scanner (Helpers_FunctionsDicts.py:54-63,
    one count() JOB per column) is the shape this replaces; `dropna`-style
    enforcement belongs to apply_with_quarantine -- this is the
    observability side.
    """
    names = list(rules)
    aggs = [
        F.count_if(rules[name]).cast("long").alias(f"__v_{i}")
        for i, name in enumerate(names)
    ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                F.col(f"__v_{i}").alias("observed"),
                (F.col(f"__v_{i}") == 0).alias("passed"),
            )
            for i, name in enumerate(names)
        ]
    )
    return row.select(F.explode(entries).alias("e")).select("e.*")
