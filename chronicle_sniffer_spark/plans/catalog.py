"""Query-catalog core: registry + determinism helpers.

Every declared operator (SURVEY.md §2B) registers here as a
:class:`QuerySpec` — a Spark callable plus, when SQL-expressible, the
equivalent DuckDB oracle SQL.  The driver's correctness gate runs both
at sf0.01 and hash-matches (row count + schema + order-insensitive
value hash, doubles canonicalized).

An entry takes one of two forms:

- **One SQL text** (:func:`sql_query`), when Spark and DuckDB both run
  the same text.  Each base table is a ``{table}`` placeholder:
  Spark binds it to the ``load_table`` DataFrame through
  DataFrame-parameterised ``spark.sql`` (a private view name that is
  dropped again, so no session view is touched), and the oracle is the
  text with each placeholder rendered to the bare table name.
  Catalyst compiles the text and the equivalent DataFrame calls to
  one plan, so a builder that only re-spells its oracle is this form.
- **A builder** (:func:`query`), a ``(spark, sf_dir) -> DataFrame``
  callable.  It stays a builder when its plan shape, a hint or a
  library call is the point of the entry: a broadcast hint, a
  bucketed or manifest layout, a UDF, an eager fixture, or a plan
  with fewer exchanges than the SQL text compiles to.

Determinism rules used throughout (SURVEY.md §7.4-5):

- **Money aggregates go through exact decimal arithmetic.**  A plain
  ``sum(double)`` is association-order-dependent, so Spark and DuckDB
  can disagree in the last bits and flip a rounding boundary.  Casting
  each addend to ``DECIMAL(18,4)`` first makes the sum exact and
  order-independent in both engines; the final cast back to double is
  then bit-identical.  (A double can never sit exactly on a decimal
  rounding boundary — ``(2n+1)/2·10^-k`` is not dyadic — so the two
  engines' rounding-mode difference never matters once inputs match.)
- **Every computed column is aliased identically** in the Spark plan
  and the oracle SQL (driver sorts columns by name before hashing).
- **Sets returned through LIMIT are made deterministic** with a full
  tie-breaking ORDER BY key.
- **Integer conditional sums are cast**: DuckDB types ``SUM(CASE …
  THEN 1 …)`` as HUGEINT, which a pandas-based hasher renders as
  float64 while Spark's BIGINT stays int64 — wrap oracle integer SUMs
  in ``CAST(... AS BIGINT)`` (round-1 driver hash-fails j3_full_outer
  / l4_contamination were exactly this).
- **No DateType output columns**: Spark DateType reaches pandas as
  ``datetime.date`` objects while DuckDB DATE becomes datetime64, so
  identical values hash differently.  Surface day-granularity results
  as TIMESTAMP on both sides (``.cast("timestamp")`` + ``CAST(... AS
  TIMESTAMP)``).  ``tools/check_correctness.py`` warns on both traps.
"""

from __future__ import annotations

import importlib
import string
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    section: str  # SURVEY §2B id, e.g. "A1", "J2", "L3"
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

_SUBMODULES = (
    "chronicle_sniffer_spark.plans.relational",
    "chronicle_sniffer_spark.plans.llm",
    "chronicle_sniffer_spark.plans.pipeline",
    "chronicle_sniffer_spark.plans.streaming_queries",
    "chronicle_sniffer_spark.plans.extensions",
    "chronicle_sniffer_spark.plans.dedup_sim",
    "chronicle_sniffer_spark.plans.coverage2",
    "chronicle_sniffer_spark.plans.coverage3",
    "chronicle_sniffer_spark.plans.timeseries",
    "chronicle_sniffer_spark.plans.tpch_extra",
    "chronicle_sniffer_spark.plans.curation",
    "chronicle_sniffer_spark.plans.quality",
    "chronicle_sniffer_spark.plans.partsupp",
    "chronicle_sniffer_spark.plans.coverage5",
    "chronicle_sniffer_spark.plans.ml",
    "chronicle_sniffer_spark.plans.round7",
    "chronicle_sniffer_spark.plans.round8",
    "chronicle_sniffer_spark.plans.round8b",
    "chronicle_sniffer_spark.plans.round8c",
    "chronicle_sniffer_spark.plans.round8d",
    "chronicle_sniffer_spark.plans.round8e",
    "chronicle_sniffer_spark.plans.round9",
    "chronicle_sniffer_spark.plans.round10",
    "chronicle_sniffer_spark.plans.round11",
    "chronicle_sniffer_spark.plans.round12",
    "chronicle_sniffer_spark.plans.round13",
    "chronicle_sniffer_spark.plans.round14",
)


def query(name: str, section: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, spark_fn=fn, oracle=oracle, section=section, doc=doc)
        return fn

    return deco


@dataclass(frozen=True)
class SqlText:
    """The Spark side of an entry written as one SQL text with
    ``{table}`` placeholders (see the module docstring)."""

    text: str

    def tables(self) -> set[str]:
        return {field for _, field, _, _ in string.Formatter().parse(self.text) if field}

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        # load_table resolves through this module's global at call
        # time, so a tracer that rebinds it sees every table load
        return spark.sql(self.text, **{t: load_table(spark, sf_dir, t) for t in self.tables()})


def sql_query(name: str, section: str, text: str) -> None:
    """Register an entry whose Spark side and oracle are one SQL text."""
    fn = SqlText(text)
    query(name, section, oracle=text.format_map({t: t for t in fn.tables()}))(fn)


def registry() -> dict[str, QuerySpec]:
    """Import all catalog submodules and return the full registry."""
    for mod in _SUBMODULES:
        importlib.import_module(mod)
    return REGISTRY


# ---------------------------------------------------------------------------
# determinism helpers (Spark side)
# ---------------------------------------------------------------------------

DEC = "decimal(18,4)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent exact sum of a money-ish double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact decimal-sum / count average, cast back to double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


# DuckDB-side equivalents, for splicing into oracle SQL strings.
def o_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({expr})) AS {alias}"


# ---------------------------------------------------------------------------
# exact-decimal money arithmetic
#
# Caveat discovered empirically: Spark's round()/cast-to-decimal on a
# DOUBLE goes through BigDecimal.valueOf (the double's shortest string
# repr), while DuckDB rounds the true binary value — so
# round(40111.25 * 0.94, 2) differs between engines (37704.58 vs
# 37704.57).  Casting the 2dp-clean SOURCE columns to decimal first and
# doing the multiplication in decimal keeps every intermediate exact
# and engine-identical.
# ---------------------------------------------------------------------------


def disc_price_dec() -> Column:
    """l_extendedprice * (1 - l_discount), exact DECIMAL(18,4)."""
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (price * (F.lit(1) - disc)).cast("decimal(18,4)")


O_DISC_PRICE = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    " AS DECIMAL(18,4))"
)
O_CHARGE = f"CAST({O_DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))"


def dsum_dec(col: Column, alias: str) -> Column:
    """Sum of an already-exact decimal column, surfaced as double."""
    return F.sum(col).cast("double").alias(alias)


def o_dsum_dec(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"
