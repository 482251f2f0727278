"""Driver-contract registries (no Spark): every registered query has
exactly one DuckDB oracle and vice versa, so adding or deleting a query
cannot leave one side dangling."""

from __future__ import annotations

import __spark_entry__ as entry


def test_queries_and_oracles_share_keys():
    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert queries == oracles, {
        "query_without_oracle": sorted(queries - oracles),
        "oracle_without_query": sorted(oracles - queries),
    }
