"""Every DuckDB oracle in ORACLES, checked on Spark at sf0.001.

Each QUERIES entry runs on Spark and its ORACLES SQL runs on DuckDB over
the same parquet tables; the two results must have the same order-
insensitive signature (``tools/validate_oracles.frame_signature``).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

duckdb = pytest.importorskip("duckdb")

from hmm_crf_ner_fromscratch_spark.plans.entry_queries import ORACLES, QUERIES  # noqa: E402
from test_data_ops import SF  # noqa: E402  (the shared testdata tables, TESTDATA.md)
from validate_oracles import TABLES, frame_signature  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(SF), "sf0.001")
# 80-290 s each; ``python tools/validate_oracles.py <sf_dir> <name>`` runs them
SLOW_ORACLES = frozenset({"ann_ivf_topk", "kg_incremental", "kg_pipeline", "hmm_decode_dict"})


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"oracle tables not present at {SF_DIR}")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", [n for n in ORACLES if n not in SLOW_ORACLES])
def test_oracle(spark, duck, name):
    got = frame_signature(QUERIES[name](spark, SF_DIR).toPandas())
    want = frame_signature(duck.sql(ORACLES[name]).df())
    assert got[0] == want[0], "column mismatch"
    assert len(got[1]) == len(want[1]), "row count mismatch"
    assert got[1] == want[1]
