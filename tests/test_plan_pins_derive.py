"""Physical-plan pins for the transcript → edge derivations: over the
canonical ``events_to_transcripts`` mapping, every derivation reuses
the mapping's conv_id partitioning for its lag window, so each adds
exactly one shuffle (its own keyed aggregation), and no plan holds a
Python node."""

import datetime as dt

import pytest

from graft.io import (
    events_to_transcripts,
    transcripts_to_decayed_edges,
    transcripts_to_directed_edges,
    transcripts_to_edges,
    transcripts_to_edges_windowed,
)

_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
             "FlatMapGroupsInPandas", "PythonUDF")

# derivation → (shuffle exchanges, broadcast exchanges) of its
# executed plan over events_to_transcripts: one shuffle for the
# mapping's conv_id window, one for the derivation's aggregation; the
# decayed weights add the map-side-combined max(ts) (a single-partition
# shuffle) and its one-row broadcast.
DERIVATIONS = {
    "static": (transcripts_to_edges, 2, 0),
    "windowed": (transcripts_to_edges_windowed, 2, 0),
    "directed": (transcripts_to_directed_edges, 2, 0),
    "decayed": (transcripts_to_decayed_edges, 3, 1),
}


def _events(spark):
    base = dt.datetime(2026, 1, 5, 23, 0)
    rows = [
        (i, base + dt.timedelta(minutes=7 * i), i % 3,
         ("view", "purchase", "error", "click")[i % 4], float(i),
         f'{{"k": {i}}}')
        for i in range(24)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _exchanges(plan: str) -> tuple[int, int]:
    nodes = [ln.lstrip(" :+-") for ln in plan.splitlines()]
    return (
        sum(n.startswith("Exchange ") for n in nodes),
        sum(n.startswith("BroadcastExchange ") for n in nodes),
    )


@pytest.mark.parametrize("name", sorted(DERIVATIONS))
def test_derivation_plan(spark, name):
    derive, shuffles, broadcasts = DERIVATIONS[name]
    df = derive(events_to_transcripts(_events(spark)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in _PY_NODES:
        assert node not in plan, f"{name}: {node} in physical plan"
    assert _exchanges(plan) == (shuffles, broadcasts), plan
