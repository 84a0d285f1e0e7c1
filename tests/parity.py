"""Local mimic of the driver's correctness gate.

Runs a registry query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, sorted column names, and values
(rows sorted by all columns, exact equality — our queries are engineered to
be bit-deterministic across engines, see queries.py docstring).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from egraphdb_spark.graph import TABLES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    return pdf


def _dtype_class(s: pd.Series) -> str:
    """Coarse dtype class as the driver's repr-sensitive value-hash sees it.

    The driver hashes pandas value reprs, so ``150`` (int64) vs ``150.0``
    (float64, e.g. a DuckDB HUGEINT surfaced through pandas) vs
    ``Decimal('150')`` (object, from DECIMAL columns) are three DIFFERENT
    hashes even when numerically equal.  Round 3 shipped 18 oracles whose
    SUM()s surfaced as HUGEINT/DECIMAL while Spark returned bigint; the old
    compare() coerced both to int64 first and said "pass" while the driver
    said "fail".  compare() now rejects any cross-class pair up front.
    """
    import datetime
    import decimal

    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if s.dtype == object:
        if s.map(lambda v: isinstance(v, decimal.Decimal)).any():
            return "decimal"
        # Spark DateType arrives as object-of-datetime.date while DuckDB
        # DATE arrives as datetime64 — empirically the driver hashes these
        # EQUAL (fn_scalar_surface was r2 driver-green with a date column),
        # so date-vs-datetime is NOT a failure class; int-vs-float is.
        # The .any() guard prevents vacuous classification of empty or
        # all-None object columns as dates.
        if (
            s.map(lambda v: isinstance(v, datetime.date)).any()
            and s.map(lambda v: v is None or isinstance(v, datetime.date)).all()
        ):
            return "datetime"
    return str(s.dtype) if s.dtype != object else "object"


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    for c in sorted(set(spark_pdf.columns) & set(oracle_pdf.columns)):
        ka, kb = _dtype_class(spark_pdf[c]), _dtype_class(oracle_pdf[c])
        if ka != kb:
            problems.append(
                f"col {c}: dtype class mismatch spark={ka} oracle={kb} "
                f"(driver value-hash is repr-sensitive; cast the oracle "
                f"output to BIGINT/DOUBLE — see COVERAGE.md oracle type "
                f"contract)"
            )
    if problems:
        return problems
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return [f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        problems.append(f"row count: spark={len(a)} oracle={len(b)}")
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            eq = (av == bv) | (av.isna() & bv.isna())
            bad = (~eq).sum()
            if bad:
                i = (~eq).idxmax()
                # report max relative error for diagnosis
                rel = ((av - bv).abs() / bv.abs().clip(lower=1e-300)).max()
                problems.append(
                    f"col {c}: {bad} mismatched floats, first at row {i}: "
                    f"{av[i]!r} vs {bv[i]!r} (max rel err {rel:.2e})"
                )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            bad = (~eq).sum()
            if bad:
                i = (~eq).idxmax()
                problems.append(
                    f"col {c}: {bad} mismatches, first at row {i}: {av[i]!r} vs {bv[i]!r}"
                )
    return problems
