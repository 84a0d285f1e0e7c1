"""Every registry query must match its DuckDB oracle (driver-gate mimic)."""

import pytest

from parity import compare, run_oracle

from egraphdb_spark.queries import REGISTRY
from conftest import SF_SMOKE

# Gates whose answer is empty on the SF_SMOKE data; two empty answers
# agree vacuously, so every other gate must return rows.  Their sf0.01
# answers are not empty unless noted.
EMPTY_AT_SMOKE = {
    # no lineitem ships between a NATION_1 supplier and a NATION_2 customer
    "agg_q7_nation_volume",
    # no supplier is in NATION_7
    "agg_q20_promo_suppliers",
    # every user's last event is within 7 days of the data's last day, so
    # no lifetime ends in churn (empty at sf0.01 too)
    "evt_survival_km",
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(spark, name):
    fn, sql = REGISTRY[name]
    spark_pdf = fn(spark, SF_SMOKE).toPandas()
    problems = compare(spark_pdf, run_oracle(sql, SF_SMOKE))
    assert not problems, "\n".join(problems)
    assert len(spark_pdf) > 0 or name in EMPTY_AT_SMOKE, "empty result"
