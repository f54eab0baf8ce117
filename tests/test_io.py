"""IO layer tests: edge-list semantics (F6) and transcript derivation (F1)."""

import pyspark.sql.functions as F
import pytest

from graft import fixtures
from graft.graph import Graph
from graft.io import (
    actor_edges_to_long,
    read_edge_list,
    renumber,
    symmetrize,
    transcripts_to_edges,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    return fixtures.synth_transcripts(spark, n_conv=50).cache()


def test_read_edge_list_comments_blank_weight_default(spark, tmp_path):
    p = tmp_path / "g.txt"
    p.write_text("% a comment\n0 1\n\n1 2 0.5\n% another\n2 0\n")
    df = read_edge_list(spark, str(p))
    rows = {(r.src, r.dst): r.weight for r in df.collect()}
    assert rows == {(0, 1): 1.0, (1, 2): 0.5, (2, 0): 1.0}


def test_symmetrize_dedups_and_doubles(spark):
    raw = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (0, 1, 1.0), (2, 2, 3.0)],
        schema=fixtures.EDGE_SCHEMA,
    )
    sym = symmetrize(raw)
    rows = {(r.src, r.dst): r.weight for r in sym.collect()}
    # undirected edge once per direction; self-loop once
    assert rows == {(0, 1): 1.0, (1, 0): 1.0, (2, 2): 3.0}


def test_renumber_dense_zero_based(spark):
    raw = spark.createDataFrame(
        [(100, 105, 1.0), (105, 200, 2.0)], schema=fixtures.EDGE_SCHEMA
    )
    e, mapping = renumber(raw)
    mp = {r.vid: r.id for r in mapping.collect()}
    # dense 0-based bijection (ids may be permuted vs vid order, but
    # deterministic for a given vid set)
    assert sorted(mp.values()) == [0, 1, 2]
    assert set(mp) == {100, 105, 200}
    rows = sorted((r.src, r.dst, r.weight) for r in e.collect())
    expect = sorted(
        [(mp[100], mp[105], 1.0), (mp[105], mp[200], 2.0)]
    )
    assert rows == expect
    # deterministic: a second pass assigns identical ids
    _, mapping2 = renumber(raw)
    assert {r.vid: r.id for r in mapping2.collect()} == mp


def test_renumber_pad_isolated_reproduces_reference_gaps(spark):
    """pad_isolated=True: every id in [min, max] becomes a vertex
    (csrc/test/main.cpp:85-89 gap-padding semantics)."""
    raw = spark.createDataFrame(
        [(100, 103, 1.0)], schema=fixtures.EDGE_SCHEMA
    )
    _, mapping = renumber(raw, pad_isolated=True)
    mp = {r.vid: r.id for r in mapping.collect()}
    assert set(mp) == {100, 101, 102, 103}
    assert sorted(mp.values()) == [0, 1, 2, 3]


def test_total_edge_weight_and_strength(spark):
    g = Graph.from_undirected(
        fixtures.edges_df(spark, fixtures.weighted_triangle_edges())
    )
    assert g.total_edge_weight() == pytest.approx(0.8)
    k = {r.id: r.k for r in g.strength().collect()}
    assert k == {
        0: pytest.approx(0.4),
        1: pytest.approx(0.7),
        2: pytest.approx(0.5),
    }


def test_self_loop_detection_and_strength_doubling(spark):
    g = Graph.from_undirected(
        spark.createDataFrame(
            [(0, 1, 1.0), (1, 1, 2.0)], schema=fixtures.EDGE_SCHEMA
        )
    )
    assert g.has_self_loops()
    # m counts the loop once: 1 + 2 = 3
    assert g.total_edge_weight() == pytest.approx(3.0)
    k = {r.id: r.k for r in g.strength().collect()}
    # loop contributes twice to strength
    assert k == {0: pytest.approx(1.0), 1: pytest.approx(5.0)}


def test_transcript_edges_turn_adjacency(spark):
    rows = [
        ("c1", 0, "user", "t0", None, None),
        ("c1", 1, "assistant", "t1", None, None),
        ("c1", 2, "tool", "t2", "search", None),
        ("c1", 3, "assistant", "t3", None, None),
        ("c2", 0, "user", "t0", None, None),
        ("c2", 1, "assistant", "t1", None, None),
    ]
    t = spark.createDataFrame(rows, schema=fixtures.TRANSCRIPT_SCHEMA)
    adj = transcripts_to_edges(t, include_conv_edges=False)
    got = {(r.u, r.v): r.weight for r in adj.collect()}
    assert got == {
        ("role:assistant", "role:user"): 2.0,
        ("role:assistant", "tool:search"): 2.0,
    }
    full = transcripts_to_edges(t, include_conv_edges=True)
    got = {(r.u, r.v): r.weight for r in full.collect()}
    assert got[("conv:c1", "role:assistant")] == 2.0
    assert got[("conv:c1", "tool:search")] == 1.0
    assert got[("conv:c2", "role:user")] == 1.0


def test_per_turn_text_equality_under_stable_ordering(spark, transcripts):
    """input_hint invariant: deriving edges must not disturb per-turn text
    under the stable (conv_id, turn_idx) ordering."""
    before = [
        (r.conv_id, r.turn_idx, r.text)
        for r in transcripts.orderBy("conv_id", "turn_idx").collect()
    ]
    transcripts_to_edges(transcripts).count()  # run the pipeline
    after = [
        (r.conv_id, r.turn_idx, r.text)
        for r in transcripts.orderBy("conv_id", "turn_idx").collect()
    ]
    assert before == after
    # texts are the deterministic f"{conv}:{idx}:{role}" stamps
    assert all(t.startswith(f"{c}:{i}:") for c, i, t in after)


def test_actor_edges_to_long_roundtrip(spark, transcripts):
    uv = transcripts_to_edges(transcripts)
    e, mapping = actor_edges_to_long(uv)
    n = mapping.count()
    assert e.agg(F.max("src")).first()[0] < n
    assert e.agg(F.min("src")).first()[0] >= 0
    assert e.count() == uv.count()
    # total weight preserved
    assert (
        e.agg(F.sum("weight")).first()[0]
        == uv.agg(F.sum("weight")).first()[0]
    )


def test_read_transcript_source_paths(spark, transcripts, tmp_path):
    """Catalog-name inputs route through spark.read.table (the Iceberg
    path on clusters with the runtime jar); path inputs through parquet.
    A temp view stands in for the catalog table locally."""
    from graft.io import read_transcript_source

    p = str(tmp_path / "tx.parquet")
    transcripts.write.mode("overwrite").parquet(p)
    via_path = read_transcript_source(spark, p)
    transcripts.createOrReplaceTempView("tx_catalog_standin")
    via_table = read_transcript_source(spark, "tx_catalog_standin")
    assert via_path.count() == transcripts.count()
    assert via_table.count() == transcripts.count()
    assert set(via_path.columns) == set(via_table.columns)


def test_transcripts_to_directed_edges_flow_orientation(spark):
    from graft.io import transcripts_to_directed_edges

    rows = [
        ("c1", 0, "user", "t0", None, None),
        ("c1", 1, "assistant", "t1", None, None),
        ("c1", 2, "tool", "t2", "search", None),
        ("c1", 3, "assistant", "t3", None, None),
        ("c1", 4, "assistant", "t4", None, None),
        ("c2", 0, "user", "t0", None, None),
        ("c2", 1, "assistant", "t1", None, None),
    ]
    t = spark.createDataFrame(rows, schema=fixtures.TRANSCRIPT_SCHEMA)
    got = {(r.src, r.dst): r.weight
           for r in transcripts_to_directed_edges(t).collect()}
    assert got == {
        ("role:user", "role:assistant"): 2.0,       # c1 0→1, c2 0→1
        ("role:assistant", "tool:search"): 1.0,     # c1 1→2
        ("tool:search", "role:assistant"): 1.0,     # c1 2→3
        ("role:assistant", "role:assistant"): 1.0,  # c1 3→4 self-loop
    }


def test_transcripts_to_decayed_edges_exact_halflife(spark):
    """Each co-adjacency contributes 0.5 ** (age/half_life) where age is
    the LATER turn's age vs the corpus max ts; hand-checkable values."""
    import datetime as dt

    from graft.io import transcripts_to_decayed_edges

    base = dt.datetime(2026, 1, 1)
    hl = 100.0  # seconds
    rows = [
        ("c1", 0, "user", "t0", None, base),
        ("c1", 1, "assistant", "t1", None, base + dt.timedelta(seconds=100)),
        ("c1", 2, "user", "t2", None, base + dt.timedelta(seconds=200)),
        ("c2", 0, "user", "t0", None, base + dt.timedelta(seconds=200)),
        ("c2", 1, "assistant", "t1", None, base + dt.timedelta(seconds=200)),
    ]
    t = spark.createDataFrame(rows, schema=fixtures.TRANSCRIPT_SCHEMA)
    got = {
        (r.u, r.v): r.weight
        for r in transcripts_to_decayed_edges(
            t, half_life_s=hl, include_conv_edges=False
        ).collect()
    }
    # max ts = base+200s. c1 adjacencies: later turns at +100 (age 100,
    # 0.5) and +200 (age 0, 1.0); c2 adjacency: later turn at +200 (1.0).
    assert got == {("role:assistant", "role:user"): pytest.approx(2.5)}

    full = {
        (r.u, r.v): r.weight
        for r in transcripts_to_decayed_edges(
            t, half_life_s=hl, include_conv_edges=True
        ).collect()
    }
    # conv:c1 membership turns at ages 200/100/0 → 0.25 + 0.5 or 1.0
    assert full[("conv:c1", "role:user")] == pytest.approx(0.25 + 1.0)
    assert full[("conv:c1", "role:assistant")] == pytest.approx(0.5)
    assert full[("conv:c2", "role:user")] == pytest.approx(1.0)


def test_transcripts_to_decayed_edges_infinite_halflife_is_counts(spark, transcripts):
    """half_life → inf limit: decayed weights == the static count
    weights (the reference's weighting), on the synthetic corpus."""
    from graft.io import transcripts_to_decayed_edges

    static = {
        (r.u, r.v): r.weight
        for r in transcripts_to_edges(transcripts).collect()
    }
    decayed = {
        (r.u, r.v): r.weight
        for r in transcripts_to_decayed_edges(
            transcripts, half_life_s=1e15
        ).collect()
    }
    assert decayed.keys() == static.keys()
    for k, w in static.items():
        assert decayed[k] == pytest.approx(w, abs=1e-5)


def test_transcripts_to_edges_windowed_day_boundary(spark):
    """An adjacency edge lands in its LATER turn's window, a conv edge in
    its own turn's window, and the windows' weights sum to the static
    derivation's."""
    import datetime as dt

    from graft.io import transcripts_to_edges_windowed

    late = dt.datetime(2026, 1, 5, 23, 50)
    rows = [
        ("c1", 0, "user", "t0", None, late),
        ("c1", 1, "assistant", "t1", None, late + dt.timedelta(minutes=8)),
        ("c1", 2, "tool", "t2", "search", late + dt.timedelta(minutes=15)),
        ("c1", 3, "assistant", "t3", None, late + dt.timedelta(minutes=20)),
    ]
    t = spark.createDataFrame(rows, schema=fixtures.TRANSCRIPT_SCHEMA)
    got = {
        (r.win, r.u, r.v): r.weight
        for r in transcripts_to_edges_windowed(t, "day").collect()
    }
    d5, d6 = "2026-01-05 00:00:00", "2026-01-06 00:00:00"
    assert got == {
        # turns 0→1 inside day 5; 1→2 crosses midnight into day 6
        (d5, "role:assistant", "role:user"): 1.0,
        (d6, "role:assistant", "tool:search"): 2.0,
        (d5, "conv:c1", "role:user"): 1.0,
        (d5, "conv:c1", "role:assistant"): 1.0,
        (d6, "conv:c1", "role:assistant"): 1.0,
        (d6, "conv:c1", "tool:search"): 1.0,
    }
    summed: dict = {}
    for (_, u, v), w in got.items():
        summed[(u, v)] = summed.get((u, v), 0.0) + w
    static = {(r.u, r.v): r.weight for r in transcripts_to_edges(t).collect()}
    assert summed == static


def test_graph_summary(spark):
    from graft import fixtures
    from graft.graph import Graph

    # triangle + pendant + self-loop: 5 single-counted edges, 4 vertices
    edges = [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 1.0), (2, 3, 1.0),
             (3, 3, 4.0)]
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    row = g.summary().first()
    g.unpersist()
    assert row["n_vertices"] == 4
    assert row["n_edges"] == 5
    assert row["n_self_loops"] == 1
    assert row["total_weight"] == 9.0  # loops counted once
    assert row["density"] == round(4 / 6, 6)  # 4 non-loop edges / C(4,2)
    assert row["max_degree"] == 3  # vertex 2: {0, 1, 3}
