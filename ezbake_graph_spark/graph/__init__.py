"""DataFrame-native graph layer (SURVEY.md §2J, §3.4).

The reference exposed a property-graph surface (TinkerPop-style [R]);
its analytics capabilities map here onto vertex/edge DataFrames plus a
Pregel-style BSP driver loop (same semantics as Pregel/GraphX [P]) —
pure PySpark, so every superstep is a Catalyst plan. ``loop`` is the
superstep runtime all graph loops share; ``pregel`` holds the
algorithms.
"""

from ezbake_graph_spark.graph.pregel import (
    bfs,
    connected_components,
    label_propagation,
    pagerank,
    symmetrize,
)

__all__ = [
    "bfs",
    "connected_components",
    "label_propagation",
    "pagerank",
    "symmetrize",
]
