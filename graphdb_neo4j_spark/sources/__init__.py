"""Sources: parquet table loaders and the TPC-H→property-graph projection."""

from graphdb_neo4j_spark.sources.tpch import (
    CUST_PARTS_CTE,
    NODES_CTE,
    customer_interests,
    customer_nodes,
    load_graph,
    load_table,
    node_snapshot,
)

__all__ = [
    "CUST_PARTS_CTE",
    "NODES_CTE",
    "customer_interests",
    "customer_nodes",
    "load_graph",
    "load_table",
    "node_snapshot",
]
