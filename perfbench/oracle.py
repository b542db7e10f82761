"""Answer checks, run after the timed window against a DuckDB copy of the
corpus.

The oracle SQL comes from the package itself (``optree_oracle_sql``,
``region_query_oracle_sql``, ``knn_oracle_sql``, ``MENTIONS_ORACLE_SQL``).
Each of those re-derives the gazetteer mentions from the raw text; here the
mentions relation is computed once into a table and the identical subquery
text in every oracle statement is pointed at it, which turns 0.3-0.4 s per
check into a few milliseconds.  Every distinct query is checked once.
"""

from __future__ import annotations

import duckdb
import numpy as np

from oscar_spatial_index_compare_spark.operators.knn import knn_oracle_sql
from oscar_spatial_index_compare_spark.operators.mentions import MENTIONS_ORACLE_SQL
from oscar_spatial_index_compare_spark.operators.region_query import (
    region_query_oracle_sql,
)
from oscar_spatial_index_compare_spark.plans.oracle import optree_oracle_sql
from oscar_spatial_index_compare_spark.sources.gazetteer import mentions_subquery_sql


class Oracle:
    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TABLE documents AS SELECT * FROM "
            f"read_parquet('{corpus_dir}/documents.parquet/*.parquet')")
        self._sub = mentions_subquery_sql()
        self.con.execute(f"CREATE TABLE bench_mentions AS SELECT * FROM {self._sub}")

    def _rows(self, sql: str) -> list[tuple]:
        if self._sub not in sql:
            raise RuntimeError("oracle SQL no longer embeds the mentions subquery")
        return self.con.execute(
            sql.replace(self._sub, "(SELECT * FROM bench_mentions)")).fetchall()

    def n_mentions(self) -> int:
        return self._rows(f"SELECT COUNT(*) FROM ({MENTIONS_ORACLE_SQL})")[0][0]

    def optree_docs(self, query: str) -> set[int]:
        return {r[0] for r in self._rows(optree_oracle_sql(query))}

    def region_docs(self, poly) -> set[int]:
        return {r[0] for r in self._rows(
            region_query_oracle_sql(np.asarray(poly, dtype=np.float64)))}

    def knn_rows(self, queries) -> set[tuple]:
        return {tuple(r) for r in self._rows(knn_oracle_sql(list(queries)))}

    def close(self) -> None:
        self.con.close()
