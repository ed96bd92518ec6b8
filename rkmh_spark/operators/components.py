"""Stage 4 — iterative hash-join connected components (SURVEY.md §7.2 M4).

The reference has nothing like this (its classification is per-read argmax);
clustering near-dup pages needs transitive closure over verified edges.
Catalyst has no recursion, so this is the one custom driver-side loop in
the engine (SURVEY.md §4 "Absent: iterative connected components").

Algorithm: hash-min label propagation. Every node starts labeled with
itself; each round, a node takes the min label among itself and its
neighbors (one equi-join + one groupBy-min per round). Converges in
O(diameter) rounds — near-dup clusters are low-diameter (a page links to
its mutations through the original), so it stays the first distributed
path and star contraction only its fallback. Measured on 4 vCPUs (seed 1
perfbench corpora, verified edges forced through the distributed path,
identical labels from every path): on 20,480 edges hash-min took 2.82 /
1.26 / 1.27 s against star's 4.32 / 3.16 / 3.10 s, and on 173 edges
1.04 / 0.78 / 0.69 s against 2.99 / 2.93 / 2.50 s — a star-only path
would be 2.4-3.8x slower once warm (driver union-find: 0.05-0.17 s).

Scale hygiene:
- ``localCheckpoint`` each round truncates the lineage so plans don't grow.
- Convergence test = count of changed labels via self-join on the (small)
  label relation; rounds are capped by cfg.max_cc_iterations, and a run
  that hits the cap falls back to star contraction (connected_components_star).
- Deterministic ids: label = lexicographic min url of the component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    driver_threshold: int = 2_000_000,
    n_edges: int | None = None,
) -> DataFrame:
    """edges(url_a, url_b) → labels(node, label); label = min url in component.

    Only nodes that appear in an edge are returned; isolated nodes are the
    caller's coalesce (their label is themselves).

    Hybrid execution: below ``driver_threshold`` edges the component
    structure fits trivially in driver memory, and the distributed loop's
    per-round job latency (2 shuffles + checkpoint + fingerprint, ~1s fixed
    each on an idle cluster) dominates — so small edge sets run a local
    union-find in ONE Arrow collect (urls dictionary-encoded to ints on
    the driver, so 2M edges is ~32 MB, not gigabytes). Past the
    threshold (the 10^12-doc regime) the iterative hash-join loop runs.
    Both produce identical min-label results; the threshold only moves the
    serial-latency/parallelism tradeoff.

    ``n_edges``: pass the edge count when the caller has already
    materialized the edge relation (e.g. dedup_pages counts its persisted
    ``pairs``) — saves the extra ``limit().count()`` job here.
    """
    if n_edges is None:
        n_edges = edges.limit(driver_threshold + 1).count()
    if n_edges <= driver_threshold:
        return _driver_union_find(edges)

    def _sig(df) -> tuple:
        """Cheap convergence fingerprint: one aggregate job, no join.
        decimal sum survives ANSI overflow; (sum, count) collision over
        consecutive rounds is vanishing and bounded by max_iterations."""
        row = df.agg(
            F.sum(F.xxhash64("node", "label").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("c"),
        ).first()
        return (int(row["s"] or 0), row["c"])

    sym = edges.select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst")
    ).union(edges.select(F.col("url_b"), F.col("url_a")))
    sym = sym.persist()
    try:
        # round 0 fused into initialization: label = min(self, neighbors)
        labels = (
            sym.groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("mn"))
            .select("node", F.least("node", "mn").alias("label"))
            .localCheckpoint(eager=True)
        )

        prev = _sig(labels)
        for _ in range(max_iterations):
            nbr_labels = sym.join(
                labels, sym["dst"] == labels["node"], "inner"
            ).select(F.col("src").alias("node"), "label")
            labels = (
                labels.unionByName(nbr_labels)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            cur = _sig(labels)
            if cur == prev:
                return labels
            prev = cur
    finally:
        sym.unpersist()

    # Not converged: a component with diameter > max_iterations would get
    # split labels. Near-dup graphs are low-diameter, so this means
    # pathological chaining; star contraction converges in O(log n) rounds
    # whatever the diameter, so it gives the exact answer instead.
    return connected_components_star(edges)


def connected_components_star(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC'14 — public
    algorithm): converges in O(log n) rounds regardless of component
    DIAMETER, where hash-min label propagation needs O(diameter) rounds —
    the fallback when hash-min does not converge within its round cap
    (pathologically long near-dup chains).

    Per round (two shuffles each, like hash-min):
      large-star(u): every strictly-larger neighbor of u links to
        m(u) = min(Γ(u) ∪ {u});
      small-star(u): every neighbor ≤ u (except m) links to m(u).
    Fixed point: each component is a star centered on its min node, so
    labels(node)=center and label = min url in component — identical
    output contract to the other paths. Comparisons are lexicographic on
    the url strings, matching the min-url rule everywhere else. Raises
    ``RuntimeError`` when no fixed point is seen within
    ``max_iterations`` rounds, instead of returning split labels.
    """

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("dst"), F.col("src"))).distinct()

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # m(u) over the symmetric neighborhood
        m = (
            e.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        j = e.join(m, "src")
        if large:
            # large-star(u): strictly-larger neighbors link to m(u)
            out = j.where(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("src"), F.col("m").alias("dst")
            )
        else:
            # small-star(u): neighbors <= u link to m(u), AND u itself does
            # (without the self-link the star fixed point would emit
            # nothing — the leaves' groups only contain the center)
            smaller = j.where(
                (F.col("dst") <= F.col("src")) & (F.col("dst") != F.col("m"))
            ).select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            self_link = m.select(F.col("src"), F.col("m").alias("dst"))
            out = smaller.union(self_link)
        return out.where(F.col("src") != F.col("dst")).distinct()

    e = _sym(
        edges.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
    ).localCheckpoint(eager=True)

    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("c"),
        ).first()
        return (int(row["s"] or 0), row["c"])

    prev = _sig(e)
    for _ in range(max_iterations):
        e = _sym(_star(e, large=True))
        e = _sym(_star(e, large=False)).localCheckpoint(eager=True)
        cur = _sig(e)
        if cur == prev:
            break
        prev = cur
    else:
        # unconverged labels split components: never return them
        raise RuntimeError(
            "star contraction did not converge within "
            f"max_iterations={max_iterations}"
        )

    # fixed point: for every node, its min neighbor IS the center
    labels = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mn"))
        .select("node", F.least("node", "mn").alias("label"))
    )
    return labels


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: exact union-find on Arrow-collected edges.

    Urls are dictionary-encoded IN ARROW (pc.dictionary_encode over the
    concatenated src++dst column) before anything touches Python, so the
    per-edge data the driver holds is two int64 numpy arrays plus ONE
    Arrow string array of the distinct urls — never 2·|edges| Python
    string objects (ADVICE r3: to_pylist materialized ~4M full url
    strings at the 2M-edge threshold). The dictionary codes are re-ranked
    by the lexicographic sort of the dictionary, so the min-int root IS
    the min-url label, matching the distributed loop's min-label rule.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = edges.select("url_a", "url_b").toArrow()
    n_edges = tbl.num_rows
    both = pa.chunked_array(
        list(tbl.column(0).chunks) + list(tbl.column(1).chunks),
        type=pa.string(),
    ).combine_chunks()
    enc = pc.dictionary_encode(both)
    dictionary = enc.dictionary  # distinct urls, first-appearance order
    n_nodes = len(dictionary)
    # rank[code] = position of dictionary[code] in lexicographic order
    order = pc.array_sort_indices(dictionary).to_numpy()
    rank = np.empty(n_nodes, dtype=np.int64)
    rank[order] = np.arange(n_nodes, dtype=np.int64)
    codes = rank[enc.indices.to_numpy(zero_copy_only=False)]
    src_ids = codes[:n_edges]
    dst_ids = codes[n_edges:]
    names_sorted = pc.take(dictionary, pa.array(order))  # Arrow, not Python

    parent = np.arange(n_nodes, dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(src_ids.tolist(), dst_ids.tolist()):
        a, b = find(s), find(d)
        if a != b:
            if a < b:
                parent[b] = a
            else:
                parent[a] = b

    roots = np.fromiter(
        (find(i) for i in range(n_nodes)), dtype=np.int64, count=n_nodes
    )
    out_tbl = pa.table(
        {
            "node": names_sorted,
            "label": pc.take(names_sorted, pa.array(roots)),
        }
    )
    spark = edges.sparkSession
    from pyspark.sql import types as T

    schema = T.StructType(  # explicit: empty edge sets can't infer
        [
            T.StructField("node", T.StringType(), False),
            T.StructField("label", T.StringType(), False),
        ]
    )
    # Spark 4 accepts pyarrow Tables directly — labels never become
    # Python objects at all
    return spark.createDataFrame(out_tbl, schema=schema)
