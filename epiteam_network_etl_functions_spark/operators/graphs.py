"""Network generation (reference F8/F9/F12 + MakeEmpiricNetworks).

- Empiric contact networks come straight from the co-location edge kernel
  (operators/colocation.py); export to networkx/GraphML is a driver-side
  step over the collected edge list (SURVEY.md §1.1 "Graphs").
- SBM sampling is distributed: candidate block-pair edges with Bernoulli
  keeps via a hash-derived uniform per (edge, seed) — the reference calls
  nx.stochastic_block_model on one machine (NetworkBuilder.py:437); the
  DataFrame variant scales to node counts networkx cannot hold and is
  partition-layout independent.
- Size scaling replicates size_scalers.py exactly (driver-side: the input
  is one row per block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .sampling import hash_bucket


def scale_sizes(sizes: dict[str, int], target_n: int) -> dict[str, int]:
    """Scale block sizes to sum to ``target_n`` (size_scalers.py:377-412):
    proportional integer scaling, zero-size blocks bumped to 1
    (size_scalers.py:39-48), remainder distributed over the largest blocks
    (size_scalers.py:130-154). Fully deterministic (sorted-block order)."""
    blocks = sorted(sizes)
    total = sum(sizes.values())
    if total <= 0:
        raise ValueError("sizes must sum to a positive value")
    if target_n < len(blocks):
        # every block must keep >= 1 node (zero bump), so smaller targets
        # are mathematically infeasible — fail up front, not after the loop
        raise ValueError(
            f"target_n={target_n} < n_blocks={len(blocks)}; each block keeps >= 1"
        )
    scaled = {b: int(round(sizes[b] * target_n / total)) for b in blocks}
    for b in blocks:  # bump zeros so every block survives
        if scaled[b] == 0:
            scaled[b] = 1
    diff = target_n - sum(scaled.values())
    by_size = sorted(blocks, key=lambda b: (-scaled[b], b))[:10]
    i = 0
    while diff != 0 and by_size:
        b = by_size[i % len(by_size)]
        step = 1 if diff > 0 else -1
        if scaled[b] + step >= 1:
            scaled[b] += step
            diff -= step
        i += 1
        if i > 10 * abs(target_n):  # safety, unreachable in practice
            raise RuntimeError("scaling did not converge")
    assert sum(scaled.values()) == target_n  # size_scalers.py:48,100,160
    return scaled


def sample_nodes(scaled: dict[str, int], spark) -> DataFrame:
    """Node table (node_id, block) realizing the scaled sizes — the
    np.random.choice weighted draw (NetworkBuilder.py:374-381) made
    deterministic: blocks in sorted order, contiguous id ranges
    (:func:`block_ranges`). spark.range(total) joined to the broadcast
    block-boundary literal on containment: O(n_blocks) driver work, no
    Python worker.

    Partition count is sized to the node count, not the session default:
    the table feeds an n² cross join whose partitioning is the *product*
    of both sides' (32 slices of a 200-row table → 1024 near-empty
    cartesian tasks). ~2k nodes per slice keeps the product sane at every
    scale."""
    total = sum(scaled.values())
    bounds = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("block"),
                    F.lit(lo).cast("long").alias("__lo"),
                    F.lit(lo + n).cast("long").alias("__hi"),
                )
                for b, (lo, n) in block_ranges(scaled).items()
            ]
        )
    )
    slices = max(1, min(32, total // 2000))
    return (
        spark.range(0, total, 1, slices)
        .withColumnRenamed("id", "node_id")
        .join(
            F.broadcast(spark.range(1).select(bounds)),
            (F.col("node_id") >= F.col("__lo")) & (F.col("node_id") < F.col("__hi")),
        )
        .select("node_id", "block")
    )


def sbm_edges(
    nodes: DataFrame,
    probs: DataFrame,
    seed: int = 0,
) -> DataFrame:
    """Distributed SBM edge sampling (F9). `probs` is the long-form matrix
    (a_block, b_block, prob). Candidate pairs = nodes × nodes (a < b), edge
    kept iff u(a_node, b_node, seed) < prob[block_a, block_b], where u is a
    hash-derived uniform (operators/sampling.hash_bucket) — NOT rand(seed),
    whose stream depends on partition layout. The sampled edge set is
    therefore identical at any parallelism / after a task retry, making SBM
    runs reproducible per (graph, seed) as DETERMINISM.md §7 claims.

    Scale note: candidate volume is n²/2 — fine to ~10⁵ nodes as a cross
    join; beyond that use :func:`sbm_edges_binomial` (identical edge
    distribution, O(n_pairs·p) work instead of O(n_pairs)).
    """
    a = nodes.select(
        F.col("node_id").alias("a_node"), F.col("block").alias("a_block")
    )
    b = nodes.select(
        F.col("node_id").alias("b_node"), F.col("block").alias("b_block")
    )
    pairs = a.crossJoin(b).where(F.col("a_node") < F.col("b_node"))
    with_p = pairs.join(F.broadcast(probs), ["a_block", "b_block"], "left").withColumn(
        "prob", F.coalesce(F.col("prob"), F.lit(0.0))
    )
    pair_id = F.concat_ws("|", F.col("a_node").cast("string"), F.col("b_node").cast("string"))
    u = hash_bucket(pair_id, 1_000_000, salt=f"sbm:{seed}") / F.lit(1_000_000.0)
    return with_p.where(u < F.col("prob")).select(
        "a_node", "b_node", "a_block", "b_block"
    )


def block_ranges(scaled: dict[str, int]) -> dict[str, tuple[int, int]]:
    """block -> (start_id, size) for the contiguous sorted-block node
    layout that ``sample_nodes`` realizes. Shared so the binomial edge
    sampler and the node table can never disagree about id ranges."""
    out = {}
    start = 0
    for b in sorted(scaled):
        out[b] = (start, scaled[b])
        start += scaled[b]
    return out


def _rng_for(seed: int, a_block: str, b_block: str, chunk: int):
    """Content-seeded, partition-layout-independent RNG per chunk."""
    import hashlib

    import numpy as np

    key = f"sbm:{seed}:{a_block}:{b_block}:{chunk}".encode()
    return np.random.default_rng(int.from_bytes(hashlib.md5(key).digest()[:8], "big"))


def _distinct_uniform(rng, n: int, k: int):
    """k distinct uniform draws from range(n). Rejection loop when k is
    sparse (the SBM regime: k ≈ n·p with small p); partial permutation when
    dense so p→1 cannot degenerate."""
    import numpy as np

    if k <= 0:
        return np.empty(0, dtype=np.int64)
    if k >= n:
        return np.arange(n, dtype=np.int64)
    if 3 * k > n:
        return rng.permutation(n)[:k].astype(np.int64)
    got = np.unique(rng.integers(0, n, size=int(k * 1.1) + 8))
    while got.size < k:
        extra = rng.integers(0, n, size=(k - got.size) * 2 + 8)
        got = np.unique(np.concatenate([got, extra]))
    # uniform subset of the distinct draws: drop the surplus at random
    if got.size > k:
        got = got[rng.permutation(got.size)[:k]]
    return np.sort(got)


def _decode_same_block(offs, n: int):
    """Bijection idx -> (i, j), i<j<n, over the combinatorial ordering
    (i ascending, then j): inverse of idx = i*n - i*(i+1)/2 + (j - i - 1).
    Float sqrt initialization + exact integer fixup (pair counts stay
    < 2^53 up to n ~ 10^8, so one or two fixup steps suffice)."""
    import numpy as np

    nn = float(n)
    i = np.floor(nn - 0.5 - np.sqrt((nn - 0.5) ** 2 - 2.0 * offs)).astype(np.int64)
    i = np.clip(i, 0, n - 2)
    for _ in range(3):
        s = i * n - i * (i + 1) // 2
        i = np.where(s > offs, i - 1, i)
        s_next = (i + 1) * n - (i + 1) * (i + 2) // 2
        i = np.where(s_next <= offs, i + 1, i)
    s = i * n - i * (i + 1) // 2
    j = offs - s + i + 1
    return i, j


def sbm_edges_binomial(
    scaled: dict[str, int],
    probs: DataFrame | dict,
    spark,
    seed: int = 0,
    chunk_pairs: int = 4_000_000,
) -> DataFrame:
    """SBM sampling without the n² candidate join (the scale path promised
    at ``sbm_edges``' docstring): for every block pair the pair-index space
    [0, n_a·n_b) (or n(n-1)/2 within a block) is cut into chunks of
    ``chunk_pairs``; each chunk draws k ~ Binomial(chunk_size, p) from a
    content-seeded RNG and materializes k distinct offsets. Conditional on
    its count a Bernoulli process is a uniform subset, and binomials sum,
    so the union over chunks is *exactly* the i.i.d. edge process of
    nx.stochastic_block_model (NetworkBuilder.py:437) — same distribution
    as ``sbm_edges``, O(n_pairs · p) work instead of O(n_pairs).

    Cost: ~n_pairs/chunk_pairs chunk descriptor rows (JVM-exploded from one
    row per block pair) and output-sized edge generation — a 10⁶-node,
    10-block graph is ~3×10⁴ chunks regardless of edge density. Node ids
    follow the ``sample_nodes`` contiguous sorted-block layout
    (``block_ranges``), so a_node < b_node always pairs a_block ≤ b_block
    (sorted). Deterministic per (graph, seed) at any parallelism: RNG seeds
    derive from (seed, blocks, chunk), never from partition layout.
    """
    import pandas as pd

    ranges = block_ranges(scaled)
    if isinstance(probs, DataFrame):
        p_map = {
            (r["a_block"], r["b_block"]): float(r["prob"])
            for r in probs.collect()  # n_blocks² rows: driver-sized by construction
        }
    else:
        p_map = {k: float(v) for k, v in probs.items()}

    pair_rows = []
    blocks = sorted(ranges)
    for ai, a_b in enumerate(blocks):
        for b_b in blocks[ai:]:
            # sorted orientation ONLY — sbm_edges joins probs on the
            # (a_block, b_block) of the a_node < b_node pair, which is the
            # sorted orientation under the contiguous layout, and treats a
            # missing row as p=0. A reversed-entry fallback here would make
            # the two samplers disagree on asymmetric prob tables.
            p = p_map.get((a_b, b_b), 0.0)
            if p <= 0.0:
                continue
            a_start, n_a = ranges[a_b]
            b_start, n_b = ranges[b_b]
            n_pairs = n_a * (n_a - 1) // 2 if a_b == b_b else n_a * n_b
            if n_pairs >= 2**53:
                # _decode_same_block's sqrt initialization loses exactness
                # past float53; fail loudly instead of silently corrupting
                # the pair decode (duplicate/missing edges).
                raise ValueError(
                    f"block pair ({a_b}, {b_b}) has {n_pairs} candidate pairs"
                    " >= 2^53 — beyond the exact float decode range; shard"
                    " the block or extend the decoder to integer bisection"
                )
            if n_pairs > 0:
                pair_rows.append(
                    (a_b, b_b, a_start, n_a, b_start, n_b, n_pairs, min(p, 1.0))
                )
    if not pair_rows:
        return spark.createDataFrame(
            [], "a_node long, b_node long, a_block string, b_block string"
        )

    # Chunk descriptors via a global spark.range over cumulative chunk
    # offsets (the sample_nodes pattern) — NOT explode(
    # sequence(...)): a single 10⁷-node block is ~12.5M chunks, and a
    # sequence() array of that length is one ~100 MB row (OOM / sequence
    # cap) while a range join is O(1) memory per row.
    bounds_rows = []
    base = 0
    for a_b, b_b, a_start, n_a, b_start, n_b, n_pairs, p in pair_rows:
        n_chunks = (n_pairs + chunk_pairs - 1) // chunk_pairs
        bounds_rows.append(
            (a_b, b_b, a_start, n_a, b_start, n_b, n_pairs, p, base, base + n_chunks)
        )
        base += n_chunks
    bounds = spark.createDataFrame(
        bounds_rows,
        "a_block string, b_block string, a_start long, n_a long, "
        "b_start long, n_b long, n_pairs long, prob double, "
        "__base long, __hi long",
    )
    chunks = (
        spark.range(base)
        .join(
            F.broadcast(bounds),
            (F.col("id") >= F.col("__base")) & (F.col("id") < F.col("__hi")),
        )
        .withColumn("chunk", F.col("id") - F.col("__base"))
        .drop("id", "__base", "__hi")
        # one chunk per task slice: each chunk is an independent draw, so
        # spreading them is the whole parallelism story
        .repartition(spark.sparkContext.defaultParallelism, "a_block", "b_block", "chunk")
    )

    cp = chunk_pairs
    sd = seed

    def gen(batches):
        import numpy as np

        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                lo = row.chunk * cp
                size = int(min(cp, row.n_pairs - lo))
                rng = _rng_for(sd, row.a_block, row.b_block, int(row.chunk))
                k = int(rng.binomial(size, row.prob))
                if k == 0:
                    continue
                offs = lo + _distinct_uniform(rng, size, k)
                if row.a_block == row.b_block:
                    i, j = _decode_same_block(offs, int(row.n_a))
                    a_nodes = row.a_start + i
                    b_nodes = row.a_start + j
                else:
                    a_nodes = row.a_start + offs // row.n_b
                    b_nodes = row.b_start + offs % row.n_b
                outs.append(
                    pd.DataFrame(
                        {
                            "a_node": a_nodes.astype(np.int64),
                            "b_node": b_nodes.astype(np.int64),
                            "a_block": row.a_block,
                            "b_block": row.b_block,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return chunks.mapInPandas(
        gen, "a_node long, b_node long, a_block string, b_block string"
    )


def to_networkx(edges: DataFrame, a_col: str = "a_node", b_col: str = "b_node"):
    """Driver-side graph materialization (optional convenience). Collects
    the edge list — only for graphs that fit the driver (the reference's
    10⁴-node regime). GraphML export does NOT go through here — see
    ``write_graphml``, which emits the XML directly and needs no networkx."""
    import networkx as nx  # driver-side convenience; ImportError if absent

    g = nx.Graph()
    g.add_edges_from(
        (r[a_col], r[b_col]) for r in edges.select(a_col, b_col).toLocalIterator()
    )
    return g


_GRAPHML_TYPES = {
    "string": "string",
    "long": "long",
    "int": "int",
    "integer": "int",
    "bigint": "long",
    "smallint": "int",
    "tinyint": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}


def write_graphml(
    path: str,
    edges: DataFrame,
    a_col: str = "a_node",
    b_col: str = "b_node",
    nodes: DataFrame | None = None,
    id_col: str = "node_id",
    attr_cols: list[str] | None = None,
) -> dict[str, int]:
    """GraphML sink (S12) — emits the XML directly, no networkx required.

    Matches the reference's export shape (MakeEmpiricNetworks.py:108-126):
    an undirected graph from the edge list, plus isolated nodes and node
    attributes (caid/home_ageb there) taken from an optional ``nodes``
    table. Output parses with networkx's ``read_graphml`` (same xmlns,
    ``<key>`` declarations inferred from the Spark schema).

    Driver-side by design — GraphML is a single XML document. Both node
    attrs and edges stream partition-at-a-time (one pass over the edge
    list declares endpoint-only nodes before any edge references them and
    spools the edges to a temp file); driver memory is bounded by the
    node-id set, never by the edge count. Returns ``{"nodes": n, "edges": m}``.
    """
    import shutil
    import tempfile
    from xml.sax.saxutils import escape, quoteattr

    attr_cols = list(attr_cols or [])
    keys: list[tuple[str, str, str]] = []  # (key_id, attr_name, graphml_type)
    if nodes is not None:
        schema = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
        for i, c in enumerate(attr_cols):
            keys.append((f"d{i}", c, _GRAPHML_TYPES.get(schema.get(c, "string"), "string")))

    node_ids: set[str] = set()
    with open(path, "w", encoding="utf-8") as out:
        out.write("<?xml version='1.0' encoding='utf-8'?>\n")
        out.write(
            '<graphml xmlns="http://graphml.graphdrawing.org/xmlns"'
            ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'
            ' xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns'
            ' http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">\n'
        )
        for key_id, name, gtype in keys:
            out.write(
                f'  <key id="{key_id}" for="node" attr.name={quoteattr(name)}'
                f' attr.type="{gtype}" />\n'
            )
        out.write('  <graph edgedefault="undirected">\n')

        def emit_node(nid: str, attrs: list[tuple[str, object]]) -> None:
            if attrs:
                out.write(f"    <node id={quoteattr(nid)}>\n")
                for key_id, val in attrs:
                    out.write(
                        # \r as a character reference: XML parsers
                        # line-ending-normalize a literal \r in content
                        # to \n, silently corrupting the value
                        f'      <data key="{key_id}">'
                        f'{escape(str(val), {chr(13): "&#13;"})}</data>\n'
                    )
                out.write("    </node>\n")
            else:
                out.write(f"    <node id={quoteattr(nid)} />\n")

        # prefetchPartitions: the job for partition i+1 runs while partition
        # i is written (two partitions in driver memory at most); without
        # it every partition is a serial job round-trip.
        if nodes is not None:
            for r in nodes.select(id_col, *attr_cols).toLocalIterator(True):
                nid = str(r[id_col])
                node_ids.add(nid)
                emit_node(
                    nid,
                    [
                        (keys[i][0], r[c])
                        for i, c in enumerate(attr_cols)
                        if r[c] is not None
                    ],
                )

        n_edges = 0
        endpoint_only: set[str] = set()
        # Nodes must be declared before edges reference them: one pass
        # over the edge list declares endpoint-only nodes and spools the
        # edge elements to a temp file (disk, not driver memory), which
        # is copied in after the last node.
        with tempfile.TemporaryFile("w+", encoding="utf-8") as spool:
            for r in edges.select(a_col, b_col).toLocalIterator(True):
                a, b = str(r[a_col]), str(r[b_col])
                for v in (a, b):
                    if v not in node_ids and v not in endpoint_only:
                        endpoint_only.add(v)
                        emit_node(v, [])
                spool.write(
                    f"    <edge source={quoteattr(a)} target={quoteattr(b)} />\n"
                )
                n_edges += 1
            spool.seek(0)
            shutil.copyfileobj(spool, out)
        out.write("  </graph>\n</graphml>\n")
    return {"nodes": len(node_ids | endpoint_only), "edges": n_edges}
