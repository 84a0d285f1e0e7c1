"""Registry-wide oracle output-type lint.

The driver's correctness gate hashes pandas value REPRS order-insensitively,
so an oracle column that DuckDB types as HUGEINT or DECIMAL (pandas:
float64 / Decimal object) can never hash-equal Spark's BIGINT (pandas:
int64) even when every value is numerically identical.  Round 3 lost 14
driver gates to exactly this; this lint makes the class unshippable: every
``oracle_sql()`` relation must expose only driver-hashable types.

Runs on DuckDB relation metadata only (no query execution, no Spark) — the
whole registry lints in ~2 s.
"""

import duckdb
import pytest

from egraphdb_spark.graph import TABLES
from egraphdb_spark.queries import REGISTRY
from conftest import SF_SMOKE

# Everything the driver's hash treats identically on both engines.  The
# parametric forms (DECIMAL(p,s), HUGEINT) are exactly the ones pandas
# surfaces as float64/Decimal and therefore banned.
_ALLOWED_PREFIXES = (
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",  # incl. TIMESTAMP_NS etc.
    "BOOLEAN",
    "BLOB",
    "BIGINT[]",
    "DOUBLE[]",
    "VARCHAR[]",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_output_types_hashable(duck, name):
    _fn, sql = REGISTRY[name]
    rel = duck.sql(sql)
    bad = [
        (col, str(typ))
        for col, typ in zip(rel.columns, rel.types)
        if not str(typ).upper().startswith(_ALLOWED_PREFIXES)
    ]
    assert not bad, (
        f"oracle for {name!r} emits driver-unhashable column types {bad}; "
        "CAST integer aggregates AS BIGINT / ratios AS DOUBLE "
        "(COVERAGE.md oracle type contract)"
    )

