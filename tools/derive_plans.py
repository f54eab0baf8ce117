"""Rows and executed plans of the transcript derivations, for diffing
two trees.

Usage:
    python tools/derive_plans.py dump <tree> <sf_dir> <out.json>
    python tools/derive_plans.py diff <a.json> <b.json>

``dump`` imports ``graft`` from ``<tree>`` (a checkout, e.g. a parent
commit unpacked with ``git archive``), maps ``<sf_dir>/events.parquet``
through ``events_to_transcripts`` and records, for every edge
derivation and every transcript / WL / temporal operator built on the
shared transcript vocabulary, the row count, a digest of the sorted
rows and the executed plan with expression ids, plan ids and file paths
normalized. ``diff`` prints one line per frame and the unified diff of
any plan that differs; it exits 1 when rows differ.
"""

from __future__ import annotations

import difflib
import hashlib
import importlib
import json
import re
import sys


def _norm(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(r"file:[^\],\s]+", "file:PATH", plan)


def _frames(spark, sf_dir: str) -> dict:
    gio = importlib.import_module("graft.io")
    gt = importlib.import_module("graft.transcripts")
    temporal = importlib.import_module("graft.temporal")
    wl = importlib.import_module("graft.algos.wl")
    events = gio.read_table(spark, sf_dir, "events")
    t = gio.events_to_transcripts(events)
    return {
        "edges": lambda: gio.transcripts_to_edges(t),
        "edges_noconv": lambda: gio.transcripts_to_edges(t, False),
        "windowed": lambda: gio.transcripts_to_edges_windowed(t),
        "windowed_week_noconv": lambda: gio.transcripts_to_edges_windowed(
            t, "week", False),
        "decayed": lambda: gio.transcripts_to_decayed_edges(t),
        "directed": lambda: gio.transcripts_to_directed_edges(t),
        "long_edges": lambda: gio.actor_edges_to_long(
            gio.transcripts_to_edges(t))[0],
        "long_mapping": lambda: gio.actor_edges_to_long(
            gio.transcripts_to_edges(t))[1],
        "sessionize": lambda: gt.sessionize(t, 86400),
        "conversation_stats": lambda: gt.conversation_stats(t),
        "turn_gap_stats": lambda: gt.turn_gap_stats(t),
        "actor_pmi": lambda: gt.actor_pmi(t),
        "role_transitions": lambda: gt.role_transitions(t),
        "conversation_entropy": lambda: gt.conversation_entropy(t),
        "rate_anomalies": lambda: temporal.rate_anomalies(events),
        "conversation_wl": lambda: wl.conversation_wl_fingerprints(t),
        "windowed_wl": lambda: wl.windowed_wl_fingerprints(t, "week"),
    }


def dump(tree: str, sf_dir: str, out: str) -> None:
    sys.path.insert(0, tree)
    from graft.session import get_spark

    spark = get_spark("derive-plans", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    res = {}
    for name, build in _frames(spark, sf_dir).items():
        df = build()
        plan = _norm(df._jdf.queryExecution().executedPlan().toString())
        rows = sorted(repr(tuple(r)) for r in df.collect())
        res[name] = {
            "n": len(rows),
            "rows": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
            "plan": plan,
        }
        print(name, len(rows), flush=True)
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    spark.stop()


def diff(a_path: str, b_path: str) -> int:
    a, b = json.load(open(a_path)), json.load(open(b_path))
    bad = 0
    for name in sorted(set(a) | set(b)):
        x, y = a.get(name), b.get(name)
        if x is None or y is None:
            print(f"{name:24s} only in {'b' if x is None else 'a'}")
            bad += 1
            continue
        rows = (x["n"], x["rows"]) == (y["n"], y["rows"])
        bad += not rows
        print(f"{name:24s} n={x['n']:<7d} rows={'same' if rows else 'DIFF'} "
              f"plan={'same' if x['plan'] == y['plan'] else 'DIFF'}")
        for line in difflib.unified_diff(
            x["plan"].splitlines(), y["plan"].splitlines(), lineterm="", n=0
        ):
            print("   ", line)
    return 1 if bad else 0


if __name__ == "__main__":
    cmd, *args = sys.argv[1:]
    if cmd == "dump":
        dump(*args)
    else:
        sys.exit(diff(*args))
