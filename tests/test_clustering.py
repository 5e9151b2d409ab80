"""Connected-components kernel vs a union-find oracle, plus cascading ops.

Mirrors SURVEY.md §5.2: CC against an oracle on random graphs; cluster
comparison is label-invariant frozenset-of-frozensets (the reference's own
criterion, tests/e2e/test_pipelines_main_schema.py:160-182).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators import clustering as G


# -- union-find oracle -------------------------------------------------------
def uf_components(edges: list[tuple[str, str]]) -> set[frozenset[str]]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comps: dict[str, set[str]] = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    return {frozenset(v) for v in comps.values()}


def spark_components(spark, edges: list[tuple[str, str]]) -> set[frozenset[str]]:
    df = spark.createDataFrame(edges, "src string, dst string")
    assign = G.connected_components(df)
    rows = assign.collect()
    comps: dict[str, set[str]] = {}
    for r in rows:
        comps.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(v) for v in comps.values()}


def test_cc_simple_chain(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    assert spark_components(spark, edges) == uf_components(edges)


def test_cc_cluster_ids_are_min_key(spark):
    df = spark.createDataFrame([("c", "b"), ("b", "a")], "src string, dst string")
    rows = {r["node"]: r["component"] for r in G.connected_components(df).collect()}
    assert rows == {"a": "a", "b": "a", "c": "a"}


def test_cc_random_graphs_match_oracle(spark):
    rng = random.Random(7)
    for trial in range(5):
        n = rng.randint(10, 120)
        m = rng.randint(5, 3 * n)
        edges = [
            (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
            for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        assert spark_components(spark, edges) == uf_components(edges), f"trial {trial}"


def test_cc_long_chain_converges(spark):
    # adversarial path graph: worst case for naive label propagation
    edges = [(f"v{i:04d}", f"v{i+1:04d}") for i in range(200)]
    comps = spark_components(spark, edges)
    assert comps == {frozenset(f"v{i:04d}" for i in range(201))}


def test_cc_hybrid_paths_identical(spark):
    """All three kernels — pure star rounds (small_graph_edges=0), pure
    union-find finish (threshold above |E|), and the hybrid (threshold mid
    contraction: star rounds, then the union-find on their frontier) —
    must produce the IDENTICAL (node, component-min) map on adversarial
    shapes."""
    rng = random.Random(13)
    edges = []
    for comp in range(60):
        size = rng.randint(2, 15)
        ns = [f"c{comp:03d}_{i:02d}" for i in range(size)]
        shape = rng.random()
        if shape < 0.33:
            edges += [(ns[i], ns[i + 1]) for i in range(size - 1)]  # chain
        elif shape < 0.66:
            edges += [(ns[0], x) for x in ns[1:]]  # star
        else:
            edges += [(a, b) for a in ns for b in ns if a < b]  # clique
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "src string, dst string")
    # under |E| = 1,058, and at least the 499 edges one star round leaves,
    # so the hybrid really hands a frontier to the union-find (a lower
    # threshold runs the rounds to their star-forest fixpoint instead)
    mid = 600
    results = []
    for thr in (0, mid, 10**9):
        stats: dict = {}
        assign = G.connected_components(df, small_graph_edges=thr, stats=stats)
        results.append({(r["node"], r["component"]) for r in assign.collect()})
        if thr == mid:
            assert stats["finish"] == "union_find" and stats["rounds"] > 0, stats
    assert results[0] == results[1] == results[2]
    # bench.py's hybrid cases pass None: the default threshold, which this
    # graph is under, so the kernel finishes with union-find at round 0
    stats: dict = {}
    assign = G.connected_components(df, small_graph_edges=None, stats=stats)
    assert {(r["node"], r["component"]) for r in assign.collect()} == results[0]
    assert stats["finish"] == "union_find" and stats["rounds"] == 0

    # NULL-dst rows declare nodes: some already on edges (no change), some
    # isolated (each its own singleton) — on every path
    on_edges = sorted({a for a, _ in edges})[::7]
    isolated = [f"iso_{i:02d}" for i in range(5)]
    declared = spark.createDataFrame(
        edges + [(x, None) for x in on_edges + isolated + isolated[:2]],
        "src string, dst string",
    )
    maps = []
    for thr in (0, mid, 10**9):
        assign = G.connected_components(declared, small_graph_edges=thr)
        maps.append({r["node"]: r["component"] for r in assign.collect()})
    assert maps[0] == maps[1] == maps[2]
    assert maps[0] == {**dict(results[0]), **{x: x for x in isolated}}


def test_star_rounds_leave_session_conf_alone(spark, monkeypatch):
    """Star rounds plan with the session's settings and write no conf: a
    conf write would race the stage writers planning on other threads."""
    from pyspark.sql.conf import RuntimeConfig

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        sets.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    edges = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(40)]
    df = spark.createDataFrame(edges, "src string, dst string")
    stats: dict = {}
    assign = G.connected_components(df, small_graph_edges=0, stats=stats)
    assert assign.count() == 41 and stats["rounds"] > 0
    assert sets == []
    assert {k: spark.conf.get(k) for k in keys} == before


def test_cc_star_rounds_are_logarithmic(spark):
    """Large-star/small-star is provably O(log n) rounds; lock in the round
    count on a 256-node path graph (the adversarial depth case) so a kernel
    regression to linear label-propagation behavior fails loudly."""
    edges = [(f"p{i:04d}", f"p{i+1:04d}") for i in range(255)]
    df = spark.createDataFrame(edges, "src string, dst string")
    # force pure star rounds and count them via max_iter bisection: the
    # kernel raises if it exceeds max_iter, so the smallest passing
    # max_iter IS the round count (fixpoint included).
    rounds = None
    for k in range(1, 17):
        try:
            G.connected_components(df, max_iter=k, small_graph_edges=0).count()
            rounds = k
            break
        except RuntimeError:
            continue
    assert rounds is not None and rounds <= 12, (
        f"path-256 took {rounds} star rounds — expected O(log n) (<=12)"
    )


# -- links_to_clusters --------------------------------------------------------
def _links(spark, rows):
    return spark.createDataFrame(
        rows,
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
        f"`{K.PROBABILITY}` double",
    )


def partition_of(clusters) -> set[frozenset[str]]:
    rows = clusters.collect()
    comps: dict[str, set[str]] = {}
    for r in rows:
        key = f"{r[K.INPUT_RECORD_DATASET]}-__-{r[K.INPUT_RECORD_ID]}"
        comps.setdefault(r[K.CLUSTER_ID], set()).add(key)
    return {frozenset(v) for v in comps.values()}


def test_links_to_clusters_threshold_and_exclusion(spark):
    links = _links(
        spark,
        [
            ("d", "1", "d", "2", 0.9),
            ("d", "2", "d", "3", 0.95),
            ("d", "4", "d", "5", 0.2),  # below threshold -> no edge
        ],
    )
    # Default = reference semantics (splink_links_to_clusters.py:28-34): the
    # node set is every key in the links table, so 4 and 5 come out as
    # singleton clusters even though their only link is sub-threshold.
    clusters = G.links_to_clusters(links, threshold=0.5)
    assert partition_of(clusters) == {
        frozenset({"d-__-1", "d-__-2", "d-__-3"}),
        frozenset({"d-__-4"}),
        frozenset({"d-__-5"}),
    }
    # Explicit exclusion flag = the cascading one-to-many semantic
    # (one_to_many_links_to_clusters.py:80-83): unlinked nodes dropped.
    excluded = G.links_to_clusters(links, threshold=0.5, emit_singletons=False)
    assert partition_of(excluded) == {
        frozenset({"d-__-1", "d-__-2", "d-__-3"})
    }


def test_clusters_to_links_roundtrip(spark):
    clusters = spark.createDataFrame(
        [("d", "1", "c1"), ("d", "2", "c1"), ("d", "3", "c1"), ("e", "9", "c2")],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )
    links = G.clusters_to_links(clusters)
    K.validate_links(links)
    got = {
        (r[K.LEFT_ID], r[K.RIGHT_ID], r[K.PROBABILITY]) for r in links.collect()
    }
    assert got == {("1", "2", 1.0), ("1", "3", 1.0), ("2", "3", 1.0)}


def test_update_clusters_merges_transitively(spark):
    schema = (
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string"
    )
    known = spark.createDataFrame([("d", "1", "k1"), ("d", "2", "k1")], schema)
    new = spark.createDataFrame(
        [("d", "2", "n1"), ("d", "3", "n1"), ("d", "4", "n2")], schema
    )
    merged = G.update_clusters(known, new)
    # record 4 is a singleton but still present (reference :90-92)
    assert partition_of(merged) == {
        frozenset({"d-__-1", "d-__-2", "d-__-3"}),
        frozenset({"d-__-4"}),
    }


def _rows(clusters) -> list[tuple]:
    return sorted(tuple(r) for r in clusters.collect())


def test_links_to_clusters_known_equals_update_clusters(spark, monkeypatch):
    """``links_to_clusters(links, t, known=K)`` returns exactly the rows of
    ``update_clusters(K, links_to_clusters(links, t))`` — on the driver
    union-find path and on the star-rounds path, with and without
    singletons."""
    monkeypatch.setenv("EASYLINK_VALIDATE", "0")  # rows are compared instead
    links = _links(
        spark,
        [
            ("d", "2", "d", "3", 0.9),   # bridges known clusters k1 and k3
            ("d", "7", "d", "8", 0.2),   # below threshold only: singletons
            ("d", "5", "d", "9", 0.1),   # below threshold, one end known
            ("d", "1", "e", "1", 0.95),  # second dataset joins k1
            ("e", "2", "e", "3", 0.99),  # new cluster, no known record
        ],
    )
    known = spark.createDataFrame(
        [
            ("d", "1", "k1"), ("d", "2", "k1"),
            ("d", "3", "k3"), ("d", "4", "k3"),
            ("d", "5", "d-__-5"),
            ("d", "10", "k10"), ("d", "11", "k10"),  # no link touches these
            ("e", "9", "e-__-9"),
        ],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )
    t = 0.5
    assert _rows(G.links_to_clusters(links, t, known=None)) == _rows(
        G.links_to_clusters(links, t)
    )
    expected = _rows(G.update_clusters(known, G.links_to_clusters(links, t)))
    assert partition_of(G.links_to_clusters(links, t, known=known)) == {
        frozenset({"d-__-1", "d-__-2", "d-__-3", "d-__-4", "e-__-1"}),
        frozenset({"d-__-5"}), frozenset({"d-__-7"}), frozenset({"d-__-8"}),
        frozenset({"d-__-9"}), frozenset({"d-__-10", "d-__-11"}),
        frozenset({"e-__-2", "e-__-3"}), frozenset({"e-__-9"}),
    }
    assert _rows(G.links_to_clusters(links, t, known=known)) == expected
    expected_linked = _rows(G.update_clusters(
        known, G.links_to_clusters(links, t, emit_singletons=False)
    ))
    assert _rows(G.links_to_clusters(
        links, t, emit_singletons=False, known=known
    )) == expected_linked

    # random graphs over two datasets, known clusters overlapping the links
    random.seed(7)
    for _ in range(2):
        rows = [
            (random.choice("de"), str(random.randrange(30)),
             random.choice("de"), str(random.randrange(30)), random.random())
            for _ in range(40)
        ]
        known_rows = [
            (ds, str(i), f"c{random.randrange(12)}")
            for ds in "de" for i in random.sample(range(40), 15)
        ]
        rl = _links(spark, rows)
        rk = spark.createDataFrame(known_rows, known.schema)
        assert _rows(G.links_to_clusters(rl, t, known=rk)) == _rows(
            G.update_clusters(rk, G.links_to_clusters(rl, t))
        )

    # 11 distinct edges (3 links over the threshold, 8 known records) above
    # SMALL_GRAPH_EDGES take the star rounds
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 4)
    runs = []
    cc = G.connected_components

    def recording_cc(rows):
        runs.append({})
        return cc(rows, stats=runs[-1])

    monkeypatch.setattr(G, "connected_components", recording_cc)
    assert _rows(G.links_to_clusters(links, t, known=known)) == expected
    assert _rows(G.links_to_clusters(
        links, t, emit_singletons=False, known=known
    )) == expected_linked
    assert len(runs) == 2 and all(r["rounds"] > 0 for r in runs), runs


def test_union_find_task_rows_stay_bounded(spark, monkeypatch):
    """No collect takes more than SMALL_GRAPH_EDGES + 1 rows, and the
    driver-side union-find gets at most SMALL_GRAPH_EDGES: with every link
    below the threshold (no edges, but two endpoint declarations per link),
    with ``known``, and when star rounds hand their frontier over — so
    SMALL_GRAPH_EDGES bounds the driver's memory."""
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 4)
    collected, labelled = [], []
    to_arrow = type(spark.range(1)).toArrow

    def recording_to_arrow(df):
        table = to_arrow(df)
        collected.append(table.num_rows)
        return table

    real = G._union_find_assignments

    def recording_union_find(session, table):
        labelled.append(table.num_rows)
        return real(session, table)

    monkeypatch.setattr(type(spark.range(1)), "toArrow", recording_to_arrow)
    monkeypatch.setattr(G, "_union_find_assignments", recording_union_find)
    below = _links(spark, [("d", f"1{i}", "d", f"2{i}", 0.1) for i in range(7)])
    chain = _links(spark, [("d", f"{i}", "d", f"{i + 1}", 0.9) for i in range(7)])
    known = spark.createDataFrame(
        [("d", "1", "k"), ("d", "2", "k")],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )
    for links, k, expected in ((below, None, 14), (below.limit(2), None, 4),
                               (below.limit(1), known, 4), (chain, None, 8)):
        assert G.links_to_clusters(links, 0.5, known=k).count() == expected
    assert collected and max(collected) <= 4 + 1, collected
    assert labelled and max(labelled) <= 4, labelled


def test_empty_inputs_give_empty_string_typed_frames(spark):
    """No links (with and without an empty ``known``) and no edges give 0
    rows with the output columns, all strings."""
    clusters_cols = [K.INPUT_RECORD_DATASET, K.INPUT_RECORD_ID, K.CLUSTER_ID]
    known = spark.createDataFrame(
        [], ", ".join(f"`{c}` string" for c in clusters_cols)
    )
    links = _links(spark, [])
    edges = spark.createDataFrame([], "src string, dst string")
    for out, cols in (
        (G.links_to_clusters(links, 0.5), clusters_cols),
        (G.links_to_clusters(links, 0.5, known=known), clusters_cols),
        (G.connected_components(edges), ["node", "component"]),
    ):
        assert out.count() == 0
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
            (c, "string") for c in cols
        ]


def test_one_to_many_drop_ties(spark):
    links = _links(
        spark,
        [
            ("dup", "1", "ref", "10", 0.9),
            ("dup", "1", "ref", "11", 0.9),  # tie at 0.9 -> dropped
            ("dup", "2", "ref", "10", 0.8),
            ("dup", "3", "ref", "12", 0.4),  # below threshold
        ],
    )
    clusters = G.one_to_many_links_to_clusters(links, "ref", threshold=0.5)
    assert partition_of(clusters) == {frozenset({"dup-__-2", "ref-__-10"})}


def test_one_to_many_highest_id_breaks_ties(spark):
    links = _links(
        spark,
        [
            ("dup", "1", "ref", "10", 0.9),
            ("dup", "1", "ref", "11", 0.9),
        ],
    )
    clusters = G.one_to_many_links_to_clusters(
        links, "ref", threshold=0.5, break_ties_method="highest_id"
    )
    assert partition_of(clusters) == {frozenset({"dup-__-1", "ref-__-11"})}


def test_one_to_many_rejects_bad_links(spark):
    import pytest

    with pytest.raises(ValueError, match="within the no_duplicates_dataset"):
        G.one_to_many_links_to_clusters(
            _links(spark, [("ref", "1", "ref", "2", 0.9)]), "ref", 0.5
        )
    with pytest.raises(ValueError, match="don't involve"):
        G.one_to_many_links_to_clusters(
            _links(spark, [("a", "1", "b", "2", 0.9)]), "ref", 0.5
        )


def test_exclude_and_remove(spark):
    clusters = spark.createDataFrame(
        [("d", "1", "c1"), ("d", "2", "c1"), ("d", "3", "c3")],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )
    dataset = spark.createDataFrame(
        [("1", "x"), ("2", "y"), ("3", "z"), ("4", "w")],
        f"`{K.RECORD_ID}` string, attr string",
    )
    ids = G.exclude_clustered(clusters, dataset, "d")
    assert {r[K.INPUT_RECORD_ID] for r in ids.collect()} == {"1", "2"}
    remaining = G.remove_records(dataset, ids)
    assert {r[K.RECORD_ID] for r in remaining.collect()} == {"3", "4"}
