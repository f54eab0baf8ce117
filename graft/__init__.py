"""graft — a PySpark-native link-graph analytics engine.

Brand-new engine with the capability envelope of the reference repo
knagaitsev/leiden-cuda (studied read-only at /root/reference): Leiden and
Louvain community detection (local moving + refinement + aggregation, with
CPM and modularity quality), PageRank, connected components, label
propagation and triangle counting — all expressed as Spark DataFrame
joins / groupBys / windows plus vectorized pandas/Arrow UDFs, never
per-row Python.

The primary input is a transcript table
``(conv_id, turn_idx, role, text, tool, ts)`` from which an undirected
weighted edge table is derived (vertices = conv/role/tool actors, edges
from turn adjacency under stable turn ordering).

Design notes (scale-first):
- All graph state lives in two DataFrames: ``edges(src, dst, weight)``
  (symmetrized: each undirected edge stored in both directions, matching
  the reference's CSR convention, csrc/test/main.cpp:55-73) and
  ``vertices(id, ...)``.
- Every superstep is a join + partial/final hash aggregation that Catalyst
  plans natively; AQE handles skewed shuffles, and explicit salting is
  available for hub vertices (see graft.skew).
- Iterative loops checkpoint per superstep (graft.checkpoint) with
  per-partition lineage + metrics. pagerank, label_propagation,
  pic_embedding and minimum_spanning_forest resume from the latest saved
  superstep, leiden and louvain mid-hierarchy from the latest saved
  level; connected_components saves but does not resume.
"""

from graft.session import get_spark  # noqa: F401

__version__ = "0.1.0"
