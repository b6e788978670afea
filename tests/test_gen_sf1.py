"""tools/gen_sf1.py: the 10x key-shifted copy the sf1 oracle gate runs on."""

import importlib.util
from pathlib import Path

from pyspark.sql import functions as F

from sanef_election_dashboard_etl_spark.catalog import table

from .conftest import rows

SRC = "/root/testdata/sf0.001"
TOOL = Path(__file__).resolve().parents[1] / "tools" / "gen_sf1.py"

# fact table -> the key each copy shifts
FACTS = {"lineitem": "l_orderkey", "orders": "o_orderkey",
         "events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}


def _tool():
    spec = importlib.util.spec_from_file_location("gen_sf1", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _distinct(df, key):
    return df.agg(F.countDistinct(key)).first()[0]


def test_gen_sf1_tenfold_facts_disjoint_keys_same_dimensions(spark, tmp_path):
    gen = _tool()
    dst = str(tmp_path / "sf1")
    n = gen.generate(spark, SRC, dst)
    assert n == 10 * spark.read.parquet(f"{SRC}/lineitem.parquet").count()
    for name, key in FACTS.items():
        src, out = table(spark, SRC, name), table(spark, dst, name)
        assert out.count() == 10 * src.count(), name
        # copies' keys are disjoint: ten times the distinct keys
        assert _distinct(out, key) == 10 * _distinct(src, key), name
    for name in gen.DIMENSIONS:
        assert rows(table(spark, dst, name)) == rows(table(spark, SRC, name))
