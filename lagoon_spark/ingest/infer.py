"""The tabular type-inference lattice, as Spark aggregate expressions.

Behavioral parity with the reference's generated Alex lexer
(`src/backend/src/Lagoon/Ingest/Tabular/InferFieldType.x:28-83`) and the
streaming unifier (`src/backend/src/Lagoon/Ingest/Tabular/TypeInference.hs:73-116`):

* boolean literals (Postgres rules): t/true/y/yes/on/1 and
  f/false/n/no/off/0, any capitalization, optional surrounding
  whitespace;
* integers: sign + 1-9 digits → INT (I4); 10-18 digits → BIGINT (I8);
  longer → text;
* reals (Postgres float syntax): `digits e[+-]ddd`,
  `digits.[digits][e..]`, `[digits].digits[e..]`, exponent capped at 3
  digits (pre-rejects out-of-range doubles);
* anything else — including the empty string, whitespace-only, and
  non-ASCII — is TEXT; TEXT columns whose longest value exceeds 4096
  chars become DOCUMENT (`maxTextLen`,
  `src/backend/src/Lagoon/Ingest/TypeUniverse.hs:38-39`).

Column unification is the lattice join (TypeInference.hs:110-116):
Bool ⊔ Int = Int, Bool ⊔ Real = Real, Int ⊔ Real = Real, I4 ⊔ I8 = I8,
x ⊔ Text = Text — i.e. the max of the rank order below. NULLs (absent
cells from ragged rows) don't constrain the type.

Instead of the reference's single streaming fold, inference is one
Spark aggregation over all columns at once (max rank + max length per
column) — map-side partial aggregation makes this a single cheap scan
even at 100 TB — followed by a cast projection (two-pass ingest,
SURVEY §3.3).
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_TEXT_LEN = 4096  # TypeUniverse.hs:38-39

# rank order == lattice order (unify = max)
R_ABSENT, R_BOOL, R_INT, R_BIGINT, R_REAL, R_TEXT = 0, 1, 2, 3, 4, 5

BOOL_RE = (
    r"^\s*(?:[Tt](?:[Rr][Uu][Ee])?|[Yy](?:[Ee][Ss])?|[Oo][Nn]|1"
    r"|[Ff](?:[Aa][Ll][Ss][Ee])?|[Nn](?:[Oo])?|[Oo][Ff][Ff]|0)\s*$"
)
INT4_RE = r"^\s*[+-]?[0-9]{1,9}\s*$"
INT8_RE = r"^\s*[+-]?[0-9]{10,18}\s*$"
REAL_RE = (
    r"^\s*[+-]?(?:[0-9]+[eE][+-]?[0-9]{1,3}"
    r"|[0-9]+\.[0-9]*(?:[eE][+-]?[0-9]{1,3})?"
    r"|[0-9]*\.[0-9]+(?:[eE][+-]?[0-9]{1,3})?)\s*$"
)

TRUE_LITERALS = ("t", "true", "y", "yes", "on", "1")
FALSE_LITERALS = ("f", "false", "n", "no", "off", "0")


class ColumnType(str, Enum):
    """Inferred column types (`Lagoon.Interface.ColumnType`,
    `src/interface/src/Lagoon/Interface/ColumnType.hs:36-60`)."""

    BOOL = "BOOLEAN"
    INT = "INTEGER"
    BIGINT = "BIGINT"
    REAL = "DOUBLE PRECISION"
    TEXT = "TEXT"
    DOCUMENT = "DOCUMENT"
    JSON = "JSON"

    @property
    def spark_type(self) -> str:
        return {
            ColumnType.BOOL: "boolean",
            ColumnType.INT: "int",
            ColumnType.BIGINT: "bigint",
            ColumnType.REAL: "double",
            ColumnType.TEXT: "string",
            ColumnType.DOCUMENT: "string",
            ColumnType.JSON: "string",
        }[self]


@dataclass
class InferredColumn:
    name: str  # physical name c1..cN
    type: ColumnType
    max_len: int


def rank_expr(c: str) -> Column:
    col = F.col(c)
    return (
        F.when(col.isNull(), F.lit(R_ABSENT))
        .when(col.rlike(BOOL_RE), F.lit(R_BOOL))
        .when(col.rlike(INT4_RE), F.lit(R_INT))
        .when(col.rlike(INT8_RE), F.lit(R_BIGINT))
        .when(col.rlike(REAL_RE), F.lit(R_REAL))
        .otherwise(F.lit(R_TEXT))
    )


def rank_to_type(rank: int, max_len: int) -> ColumnType:
    if rank in (R_ABSENT, R_TEXT):
        return ColumnType.DOCUMENT if max_len > MAX_TEXT_LEN else ColumnType.TEXT
    return {
        R_BOOL: ColumnType.BOOL,
        R_INT: ColumnType.INT,
        R_BIGINT: ColumnType.BIGINT,
        R_REAL: ColumnType.REAL,
    }[rank]


def column_ranks(df: DataFrame, cols: list[str]) -> dict[str, tuple[int, int]]:
    """Pass 1: one aggregation job → per-column (lattice rank, max
    length). Both are maxima, so the ranks of two batches join by
    taking the larger of each."""
    aggs = []
    for c in cols:
        aggs.append(F.max(rank_expr(c)).alias(f"__r_{c}"))
        aggs.append(F.max(F.length(F.col(c))).alias(f"__l_{c}"))
    row = df.agg(*aggs).collect()[0]
    return {
        c: (
            row[f"__r_{c}"] if row[f"__r_{c}"] is not None else R_ABSENT,
            row[f"__l_{c}"] if row[f"__l_{c}"] is not None else 0,
        )
        for c in cols
    }


def infer_column_types(df: DataFrame, cols: list[str] | None = None) -> list[InferredColumn]:
    """Pass 1 as the columns' lattice types."""
    ranks = column_ranks(df, cols or df.columns)
    return [
        InferredColumn(c, rank_to_type(rank, max_len), max_len)
        for c, (rank, max_len) in ranks.items()
    ]


def cast_expr(c: str, ctype: ColumnType) -> Column:
    """Typed-table cast (`src/backend/src/Lagoon/DB/Typed.hs:74-105`).

    Postgres boolean literals are a superset of Spark's cast-to-boolean
    ('on'/'off' are not accepted by Spark), so booleans get an explicit
    literal mapping; numeric casts trim whitespace natively. The lattice
    guarantees castability, so no null-on-error surprises (SURVEY §7
    "cast semantics parity").
    """
    col = F.col(c)
    if ctype == ColumnType.BOOL:
        low = F.lower(F.trim(col))
        return (
            F.when(col.isNull(), F.lit(None).cast("boolean"))
            .when(low.isin(*TRUE_LITERALS), F.lit(True))
            .when(low.isin(*FALSE_LITERALS), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    return col.cast(ctype.spark_type)
