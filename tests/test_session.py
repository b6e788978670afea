"""Session construction: `tune` may run on every entry point, so it must
leave the session as it found it after the first call."""

import sys

from sanef_election_dashboard_etl_spark.session import tune


def test_repeated_tune_ships_the_package_once(spark):
    tune(spark)
    sc = spark.sparkContext
    before = (len(sys.path), len(sc._python_includes))
    for _ in range(5):
        tune(spark)
    assert (len(sys.path), len(sc._python_includes)) == before
