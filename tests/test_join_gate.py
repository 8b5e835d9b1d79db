"""The replicated-join and iterative-loop queries on the oracle gate at
sf0.01.

Local replica of the driver's compare for:

* q_knn, q_knn_fixed and q_salted_join (knn_join's step loop and the
  salted join's replication);
* q_dedup_incremental, q_dedup_clusters, q_pagerank_incremental,
  q_domain_pagerank and q_robots (the queries that checkpoint, cache and
  release intermediates through plans/checkpoints.py).

The Spark query must match its DuckDB oracle on rows, columns and the
order-insensitive value hash, as in test_source_gate.py.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from gen_kats import SF_DIR  # noqa: E402
from oracle_harness import TABLES, value_hash  # noqa: E402

GATED = [
    "q_knn", "q_knn_fixed", "q_salted_join",
    "q_dedup_incremental", "q_dedup_clusters", "q_pagerank_incremental", "q_domain_pagerank", "q_robots",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    yield c
    c.close()


class TestJoinGate:
    @pytest.mark.parametrize("name", GATED)
    def test_matches_duckdb_oracle(self, spark, con, name):
        from convert_spark import queries as Q

        sdf = Q.QUERIES[name](spark, SF_DIR).toPandas()
        ddf = con.execute(Q.oracles()[name]).fetchdf()
        assert len(sdf) == len(ddf) > 0
        assert sorted(sdf.columns) == sorted(ddf.columns)
        assert value_hash(sdf) == value_hash(ddf), (name, len(sdf))
