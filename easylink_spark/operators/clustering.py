"""Graph / clustering operators (SURVEY.md §2.9 — the heart of the engine).

- ``connected_components``: the one connected-components primitive every
  clustering operator calls.  Iterative **large-star / small-star**
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) over a DataFrame edge list: O(log n) rounds, each two
  groupBy-join passes, lineage truncated every round with
  ``localCheckpoint``.  The reference reaches CC through splink's duckdb
  label propagation (steps/splink/splink_links_to_clusters.py:37-51) and
  networkx (steps/cascading/one_to_many_links_to_clusters.py:84-100) —
  both single-node; this kernel is the distributed replacement.  Inputs
  at or under ``SMALL_GRAPH_EDGES`` rows skip the rounds: one bounded
  Arrow collect sizes the input and a numpy union-find on the driver
  labels it, like the reference's single node.  A NULL-``dst`` row
  declares its ``src`` as a node (a singleton unless an edge reaches it).
- ``links_to_clusters``: G1/G2 — threshold links, CC, stable cluster ids.
  Every linked record gets a cluster (singletons too) unless
  ``emit_singletons=False``, which excludes records NOT involved in an
  accepted link (the reference's explicit semantic,
  one_to_many_links_to_clusters.py:80-83 comment).  ``known=`` folds
  ``update_clusters`` into the same connected-components call.
- ``clusters_to_links``: J2 — within-cluster pair expansion at P=1.
- ``update_clusters``: G3 — merge known+new cluster assignments through a
  bipartite record<->cluster-marker graph (cheaper than the reference's
  pairwise within-cluster edge expansion,
  update_clusters_by_connected_components.py:60-114: O(n) edges vs O(n^2)).
- ``one_to_many_links_to_clusters``: G6/A3/J6 — at most one accepted link
  per left record into a no-duplicates dataset, tie drop/highest-id.
- ``exclude_clustered`` / ``remove_records``: P6/J7 + P5 — cascading
  working-set reduction.

Cluster IDs are **stable**: Cluster ID := min record key in the component
(a pure function of the partition — identical across runs, seeds, and
parallelism levels; SURVEY §7.4.5), never monotonically_increasing_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    CLUSTER_ID,
    INPUT_RECORD_DATASET,
    INPUT_RECORD_ID,
    LEFT_DATASET,
    LEFT_ID,
    PROBABILITY,
    RIGHT_DATASET,
    RIGHT_ID,
    record_key,
    split_record_key,
    validate_clusters,
    validate_ids_to_remove,
)
from easylink_spark.operators.blocking import _pair_select, canonicalize_pairs

SRC, DST = "src", "dst"
# Prefix of cluster-marker nodes (update_clusters).  \x7f sorts after any
# printable record key, so component minima are always record keys.
MARKER = "\x7f"
# Size (rows) at or under which connected components labels on the driver
# with a union-find instead of distributed star rounds: the input itself,
# when one collect of at most this many rows plus one holds all of it, or
# the frontier the star rounds leave.  That collect caps driver memory at
# this many rows plus one of two string keys, plus the numpy kernel's
# arrays.  A cluster driver needs that headroom.
SMALL_GRAPH_EDGES = 500_000


# ---------------------------------------------------------------------------
# Connected components: large-star / small-star fixpoint (G1)
# ---------------------------------------------------------------------------
def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: emit (v, min(N(u) ∪ {u})) for every neighbor v > u."""
    bi = edges.select(SRC, DST).union(
        edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    nbr_min = bi.groupBy(SRC).agg(F.min(DST).alias("_m"))
    return (
        bi.filter(F.col(DST) > F.col(SRC))
        .join(nbr_min, SRC)
        .select(
            F.col(DST).alias(SRC),
            F.least(F.col("_m"), F.col(SRC)).alias(DST),
        )
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges large->small; for each u: m = min(N_small(u) ∪ {u});
    emit (v, m) for v in N_small(u) ∪ {u}, minus self-loops."""
    directed = edges.select(
        F.greatest(SRC, DST).alias(SRC), F.least(SRC, DST).alias(DST)
    ).filter(F.col(SRC) != F.col(DST))
    nbr_min = directed.groupBy(SRC).agg(F.min(DST).alias("_m"))
    to_nbrs = directed.join(nbr_min, SRC).select(
        F.col(DST).alias(SRC), F.col("_m").alias(DST)
    )
    to_self = nbr_min.select(F.col(SRC), F.col("_m").alias(DST))
    return (
        to_nbrs.union(to_self)
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )


def _union_find_assignments(spark, table) -> DataFrame:
    """Small-graph finish: a numpy union-find on the driver over
    ``table``, the Arrow ``src``/``dst`` rows the caller collected.
    Returns a one-partition DataFrame of (node, component=min node id in
    component) for every node in either column — identical semantics to
    the star-forest extraction, and a pure function of the edge set
    (deterministic at any parallelism).

    Rows with a NULL ``dst`` are node declarations: the ``src`` node joins
    the universe (and becomes its own singleton component unless some real
    edge connects it) — the meaning ``connected_components`` gives them on
    every path.

    Only called on tables bounded by ``SMALL_GRAPH_EDGES`` rows, where
    log-n distributed rounds are pure fixed overhead: each
    large-star/small-star round costs 2+ shuffles plus a driver job
    barrier, which no core count speeds up — this was THE serial tail in
    the round-3 scaling decomposition (CC scaled 1.79x 2->8 vs 3.1-3.3x for
    every other stage).  The reference clusters on one node too (networkx,
    one_to_many_links_to_clusters.py:84-100).  At 100 TB the first
    distributed rounds shrink the frontier geometrically, so the tail
    handed to this kernel stays small.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    s = table.column(SRC).to_pandas()
    d = table.column(DST).to_pandas()
    # sort=True: codes are STRING RANKS, so the min-code fixpoint below
    # is directly the min-string component representative.  NULL dst
    # (node declaration) factorizes to code -1 and is excluded from the
    # unique universe; the edge mask below drops those rows from
    # propagation while their src stays a (singleton) node.
    code_of, uniq = pd.factorize(pd.concat([s, d], ignore_index=True),
                                 sort=True)
    n = len(uniq)
    m = len(s)
    src_c, dst_c = code_of[:m], code_of[m:]
    edge_mask = (dst_c >= 0) & (src_c >= 0)
    if not edge_mask.all():
        src_c, dst_c = src_c[edge_mask], dst_c[edge_mask]
    # vectorized min-label propagation with pointer jumping
    # (Shiloach-Vishkin flavor): labels only decrease; at the fixpoint
    # parent[i] == min code in i's component.  O(log n) outer rounds,
    # each O(m) in numpy — no per-edge Python loop.
    parent = np.arange(n, dtype=np.int64)
    while True:
        before = parent.copy()
        np.minimum.at(parent, src_c, parent[dst_c])
        np.minimum.at(parent, dst_c, parent[src_c])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
        if np.array_equal(parent, before):
            break
    uniq = np.asarray(uniq, dtype=object)
    # explicit string types: an empty input still yields the typed schema
    result = pa.table({
        "node": pa.array(uniq, type=pa.string()),
        "component": pa.array(uniq[parent], type=pa.string()),
    })
    # one partition: left to itself createDataFrame splits the rows over
    # the default parallelism, and a writer downstream then writes one
    # file per split
    return spark.createDataFrame(result).coalesce(1)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    small_graph_edges: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Rows (``src``, ``dst``: string node ids, any orientation) ->
    (node, component) where component = min node id in the component
    (total order = string order).

    A row with a NULL ``dst`` DECLARES its ``src`` as a node: it becomes
    its own singleton component unless an edge reaches it.  Nodes that are
    neither on an edge nor declared do not appear (callers decide
    singleton semantics, G4); self-loop rows are neither edges nor
    declarations.

    The input sizes itself: one collect of at most ``small_graph_edges``
    rows plus one (``None`` means ``SMALL_GRAPH_EDGES``; ``0`` skips it and
    forces star rounds, which property tests compare against).  If that
    holds every row, the driver-side union-find labels it
    (``_union_find_assignments``, result in one partition).  On a
    multi-partition input that collect is one ``CollectLimit`` job, which
    shuffles the per-partition limits into one partition (no ``Exchange``
    node in the plan).  Otherwise large-star /
    small-star rounds (Kiveris et al.) run while the frontier exceeds
    ``small_graph_edges``, then the union-find finishes what is left.  The
    rounds preserve connectivity and never drop a non-root node, so that
    gives the same (node -> component-min) map as running them to
    fixpoint.  Declared nodes that no edge reached are appended by one
    anti-join.

    Fixpoint detection: (edge count, xor-style hash checksum) stable across
    a large-star+small-star round.  Every round the result is
    localCheckpoint-ed to truncate lineage (SURVEY §4.2.2); on a real
    cluster with a checkpoint dir configured, ``DataFrame.checkpoint`` is
    the durable alternative.  The rounds leave partitioning to the
    session's settings (AQE coalesces small shuffles); they write no conf.
    """
    if small_graph_edges is None:
        small_graph_edges = SMALL_GRAPH_EDGES
    # Dataset.limit takes a Java int
    small_graph_edges = min(small_graph_edges, 2**31 - 2)
    spark = edges.sparkSession
    rows = edges.select(SRC, DST).filter(
        F.col(SRC).isNotNull()
        & (F.col(DST).isNull() | (F.col(SRC) != F.col(DST)))
    )
    if 0 < small_graph_edges:
        table = rows.limit(small_graph_edges + 1).toArrow()
        if table.num_rows <= small_graph_edges:
            if stats is not None:
                stats.update({
                    "rounds": 0,
                    # rows, duplicates and declarations included
                    "initial_edges": table.num_rows,
                    "final_edges": None,
                    "finish": "union_find",
                })
            return _union_find_assignments(spark, table)

    def truncated(df: DataFrame) -> DataFrame:
        # Lazy: the signature() action below materializes it.  toDF gives
        # the rounds fresh attribute ids: on edges built by a union
        # (links_to_clusters with ``known``) Spark 4.1's optimizer failed
        # the round's plan over the bare checkpoint ("key not found").
        return df.localCheckpoint(eager=False).toDF(SRC, DST)

    cur = truncated(rows.filter(F.col(DST).isNotNull()).distinct())

    def signature(df: DataFrame) -> tuple[int, int]:
        # bit_xor is an order-independent, overflow-free edge-set checksum
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(SRC, DST)), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev_sig = signature(cur)
    initial_edges = prev_sig[0]
    rounds = 0
    at_fixpoint = False
    for _ in range(max_iter):
        if prev_sig[0] <= small_graph_edges:
            break
        cur = truncated(_small_star(_large_star(cur)))
        sig = signature(cur)
        rounds += 1
        if sig == prev_sig:
            at_fixpoint = True
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} rounds"
        )

    if stats is not None:
        stats.update({
            "rounds": rounds,
            "initial_edges": initial_edges,
            "final_edges": prev_sig[0],
            "finish": "star_fixpoint" if at_fixpoint or prev_sig[0] == 0
            else "union_find",
        })
    if not at_fixpoint and prev_sig[0] > 0:
        assign = _union_find_assignments(spark, cur.toArrow())
    else:
        # At the fixpoint the edge set is a star forest: (node -> min).
        members = cur.select(F.col(SRC).alias("node"),
                             F.col(DST).alias("component"))
        roots = cur.select(F.col(DST).alias("node"),
                           F.col(DST).alias("component"))
        assign = members.union(roots).distinct()
    declared = rows.filter(F.col(DST).isNull()).select(
        F.col(SRC).alias("node")
    ).distinct()
    singles = declared.join(assign, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return assign.union(singles)


def _clusters(assign: DataFrame, validate: bool = True) -> DataFrame:
    """(node, component) -> clusters contract: cluster-marker nodes
    dropped, the record key split back into dataset and id."""
    ds, rid = split_record_key("node")
    out = assign.filter(~F.col("node").startswith(MARKER)).select(
        ds.alias(INPUT_RECORD_DATASET),
        rid.alias(INPUT_RECORD_ID),
        F.col("component").alias(CLUSTER_ID),
    )
    return validate_clusters(out) if validate else out


# ---------------------------------------------------------------------------
# links -> clusters (G1 driver)
# ---------------------------------------------------------------------------
def links_to_clusters(
    links: DataFrame,
    threshold: float = 0.5,
    validate: bool = True,
    emit_singletons: bool = True,
    known: DataFrame | None = None,
) -> DataFrame:
    """Threshold links, run CC, emit clusters contract.

    Mirrors splink_links_to_clusters.py:21-51: the node set is ALL record
    keys appearing in the links table (splink_links_to_clusters.py:28-34
    builds dummy_records_df from every left/right key), so a node whose
    links are all below ``threshold`` still gets a **singleton cluster**
    (cluster id = its own record key).  ``emit_singletons=False`` restricts
    output to nodes with >= 1 accepted link — the cascading one-to-many
    step's exclusion semantic (one_to_many_links_to_clusters.py:80-83
    comment), kept as an explicit flag.  Cluster ID = min record key in
    component (stable; splink's representative id is likewise the min node).

    ``known`` (clusters contract) merges the result into existing cluster
    assignments: the output equals
    ``update_clusters(known, links_to_clusters(links, threshold))`` row for
    row, from one connected-components call over the thresholded edges,
    the endpoint declarations and ``known``'s record->marker edges (the
    streaming merge's per-batch path).

    The connected-components call sizes those rows with its own bounded
    collect, which runs here, in this call; on the small-graph path the
    returned DataFrame reads the union-find's one-partition result.
    """
    keyed = links.select(
        record_key(f"`{LEFT_DATASET}`", f"`{LEFT_ID}`").alias(SRC),
        record_key(f"`{RIGHT_DATASET}`", f"`{RIGHT_ID}`").alias(DST),
        F.col(PROBABILITY).alias("_p"),
    )
    rows = keyed.filter(F.col("_p") >= F.lit(threshold)).select(SRC, DST)
    if emit_singletons:
        # every endpoint, thresholded or not, is a node (NULL dst)
        null_dst = F.lit(None).cast("string").alias(DST)
        rows = rows.union(keyed.select(F.col(SRC), null_dst)).union(
            keyed.select(F.col(DST).alias(SRC), null_dst)
        )
    if known is not None:
        # update_clusters' record->marker graph without its "new"
        # markers: the links' own edges already connect what those would
        rows = rows.union(_cluster_marker_edges(known, "known"))
    return _clusters(connected_components(rows), validate)


# ---------------------------------------------------------------------------
# clusters -> links (J2)
# ---------------------------------------------------------------------------
def clusters_to_links(clusters: DataFrame) -> DataFrame:
    """All within-cluster record pairs at Probability 1.0, canonical order
    (default_clusters_to_links.py:30-61)."""
    c = clusters.select(
        F.col(f"`{CLUSTER_ID}`").alias("_cid"),
        F.col(f"`{INPUT_RECORD_DATASET}`").alias("_ds"),
        F.col(f"`{INPUT_RECORD_ID}`").alias("_id"),
        record_key(f"`{INPUT_RECORD_DATASET}`", f"`{INPUT_RECORD_ID}`").alias("_rk"),
    )
    l, r = c.alias("l"), c.alias("r")
    pairs = l.join(
        r,
        (F.col("l._cid") == F.col("r._cid")) & (F.col("l._rk") < F.col("r._rk")),
    )
    return canonicalize_pairs(pairs.select(
        *_pair_select(), F.lit(1.0).alias(PROBABILITY)
    ))


# ---------------------------------------------------------------------------
# updating clusters (G3 + G4)
# ---------------------------------------------------------------------------
def _cluster_marker_edges(clusters: DataFrame, prefix: str) -> DataFrame:
    """One edge per clustered record: record key -> its cluster's marker
    node.  A NULL Cluster ID gives no edge (connected_components would
    read a NULL dst as a node declaration)."""
    return clusters.select(
        record_key(f"`{INPUT_RECORD_DATASET}`", f"`{INPUT_RECORD_ID}`").alias(SRC),
        F.concat(F.lit(MARKER + prefix + "__"),
                 F.col(f"`{CLUSTER_ID}`").cast("string")).alias(DST),
    ).filter(F.col(DST).isNotNull())


def update_clusters(known_clusters: DataFrame, new_clusters: DataFrame) -> DataFrame:
    """Merge two cluster assignments transitively
    (update_clusters_by_connected_components.py:60-114).

    The reference expands each cluster into all O(n^2) within-cluster edges;
    here the graph is the **bipartite** record<->cluster-marker graph (O(n)
    edges), CC over it, then components are relabeled to the min *record*
    key (markers dropped).  Singleton records keep their own cluster —
    every record appears in the output (reference adds isolated nodes,
    :90-92).
    """
    edges = _cluster_marker_edges(known_clusters, "known").union(
        _cluster_marker_edges(new_clusters, "new")
    )
    return _clusters(connected_components(edges))


# ---------------------------------------------------------------------------
# one-to-many constrained clustering (G6 / A3 / J6)
# ---------------------------------------------------------------------------
def one_to_many_links_to_clusters(
    links: DataFrame,
    no_duplicates_dataset: str,
    threshold: float,
    break_ties_method: str = "drop",
) -> DataFrame:
    """At most one accepted link per left record into ``no_duplicates_dataset``
    (one_to_many_links_to_clusters.py).

    Steps: validate link shape, orient the no-duplicates side right, take the
    top link per left record by (Probability desc, right key desc) — A3 as a
    window — then either drop left records whose top probability is tied
    across >1 distinct links (``drop``; tie counting J6 against the *full*
    link set, mirroring the reference's merge-on-(key, probability)) or keep
    the highest right key (``highest_id``).  CC over accepted links.
    """
    lds, rds = F.col(f"`{LEFT_DATASET}`"), F.col(f"`{RIGHT_DATASET}`")
    left_nd = lds == no_duplicates_dataset
    right_nd = rds == no_duplicates_dataset
    # both shape checks in ONE aggregation job (two eager limit(1).count()
    # probes would each recompute the upstream links plan)
    shape = links.agg(
        F.sum((left_nd & right_nd).cast("int")).alias("_both"),
        F.sum((~(left_nd | right_nd)).cast("int")).alias("_neither"),
    ).collect()[0]
    if shape["_both"]:
        raise ValueError(
            f"links include links within the no_duplicates_dataset "
            f"({no_duplicates_dataset})"
        )
    if shape["_neither"]:
        raise ValueError(
            f"links include links that don't involve the no_duplicates_dataset "
            f"({no_duplicates_dataset})"
        )

    oriented = links.select(
        F.when(left_nd, rds).otherwise(lds).alias(LEFT_DATASET),
        F.when(left_nd, F.col(f"`{RIGHT_ID}`")).otherwise(F.col(f"`{LEFT_ID}`")).alias(LEFT_ID),
        F.when(left_nd, lds).otherwise(rds).alias(RIGHT_DATASET),
        F.when(left_nd, F.col(f"`{LEFT_ID}`")).otherwise(F.col(f"`{RIGHT_ID}`")).alias(RIGHT_ID),
        F.col(f"`{PROBABILITY}`"),
    ).withColumn(
        "_lk", record_key(f"`{LEFT_DATASET}`", f"`{LEFT_ID}`")
    ).withColumn(
        "_rk", record_key(f"`{RIGHT_DATASET}`", f"`{RIGHT_ID}`")
    )

    w = Window.partitionBy("_lk").orderBy(
        F.desc(PROBABILITY), F.desc("_rk")
    )
    best = (
        oriented.filter(F.col(PROBABILITY) >= F.lit(threshold))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    if break_ties_method == "drop":
        tie_counts = (
            best.select("_lk", PROBABILITY)
            .join(oriented.select("_lk", PROBABILITY, "_rk"), ["_lk", PROBABILITY])
            .groupBy("_lk")
            .agg(F.count(F.lit(1)).alias("_ties"))
        )
        best = best.join(tie_counts, "_lk").filter(F.col("_ties") == 1).drop("_ties")
    elif break_ties_method == "highest_id":
        pass  # window order already prefers the highest right key
    else:
        raise ValueError(f"Unknown break_ties_method {break_ties_method}")

    return _clusters(connected_components(
        best.select(F.col("_lk").alias(SRC), F.col("_rk").alias(DST))
    ))


# ---------------------------------------------------------------------------
# cascading working-set reduction (P5 / P6 / J7)
# ---------------------------------------------------------------------------
def exclude_clustered(clusters: DataFrame, dataset: DataFrame,
                      dataset_name: str) -> DataFrame:
    """ids_to_remove = dataset record ids already in a cluster of size > 1
    (exclude_clustered.py:63-77): cluster-size count (A2) + semi join (J7)."""
    sizes = clusters.groupBy(F.col(f"`{CLUSTER_ID}`")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    clustered = (
        clusters.join(sizes.filter(F.col("_n") > 1), CLUSTER_ID)
        .filter(F.col(f"`{INPUT_RECORD_DATASET}`") == dataset_name)
        .select(F.col(f"`{INPUT_RECORD_ID}`"))
    )
    from easylink_spark.contracts import RECORD_ID

    ids = dataset.select(F.col(f"`{RECORD_ID}`").alias(INPUT_RECORD_ID)).join(
        clustered, INPUT_RECORD_ID, "left_semi"
    )
    return validate_ids_to_remove(ids.distinct())


def remove_records(dataset: DataFrame, ids_to_remove: DataFrame) -> DataFrame:
    """Drop records whose id is in ids_to_remove — left anti join (P5;
    reference uses isin, default_removing_records.py:55 — anti join scales)."""
    from easylink_spark.contracts import RECORD_ID

    ids = ids_to_remove.select(F.col(f"`{INPUT_RECORD_ID}`").alias("_rm"))
    return dataset.join(
        ids, dataset[f"`{RECORD_ID}`"] == F.col("_rm"), "left_anti"
    )
