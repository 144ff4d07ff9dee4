"""Deduplication kernels: exact, MinHash+LSH near-dup, PPJoin near-dup
clusters (beyond-reference surface required by BASELINE.json).

Design for 100 TB:
- Exact dedup is a hash-groupBy on a digest — one shuffle of (digest, id).
- MinHash signatures: one shuffle (groupBy doc) with map-side partial MIN —
  the shingle explosion never leaves the mapper un-aggregated.
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band_idx, band_hash): only same-bucket docs meet. Hot buckets (boiler-
  plate text) are the skew hazard — AQE skew-join handles them; a salt on
  band_hash is the manual fallback.
- The portable hash is md5 (identical in Spark and any SQL oracle), seeded
  by prefixing the shingle with "<seed>:". A production variant would use
  xxhash64 for speed; md5 keeps the differential gate engine-neutral.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .components import connected_components


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by digest; keep min id as the canonical copy."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


HASHES_PER_MD5 = 8  # 32 hex chars -> 8 disjoint 4-hex (16-bit) hash values


def minhash_signatures(
    shingled: DataFrame, id_col: str, shingle_col: str = "shingle", n_hashes: int = 16
) -> DataFrame:
    """One row per doc with columns mh0..mh{n-1}: min over shingles of the
    i-th hash. Single groupBy shuffle; partial mins combine map-side.

    Hash family: each md5 digest is split into 8 disjoint 4-hex-char
    (16-bit) values, so n_hashes needs only ceil(n/8) md5 calls per shingle
    instead of n — md5 dominates the signature cost at corpus scale.
    Fixed-width lowercase hex makes lexicographic MIN numeric-correct, and
    the scheme is expressible verbatim in the SQL oracle.

    The aggregation MINs the slot's 16-bit INTEGER value, not its hex
    string: a string min buffer is not hash-aggregable (UnsafeRow buffers
    must be mutable fixed-width), so the string form silently planned as
    SortAggregate — every (doc, shingle) row sorted twice, map side and
    reduce side. Numeric-min == lexicographic-min for fixed-width
    lowercase hex, so formatting the int back with %04x AFTER the groupBy
    (one row per doc) reproduces the exact string values while the
    aggregation itself runs as a HashAggregate with map-side partials."""
    # One F.expr per output column (SQL parsed JVM-side) instead of nested
    # Column algebra: the 16-hash build is ~8 py4j round-trips per agg as
    # Column objects, which is measurable driver latency on wide signatures.
    aggs = []
    for i in range(n_hashes):
        d, slot = divmod(i, HASHES_PER_MD5)
        aggs.append(
            F.expr(
                f"min(cast(conv(substring(md5(cast(concat('{d}:', `{shingle_col}`)"
                f" as binary)), {slot * 4 + 1}, 4), 16, 10) as int))"
            ).alias(f"__m{i}")
        )
    return shingled.groupBy(id_col).agg(*aggs).select(
        id_col,
        *[
            F.format_string("%04x", F.col(f"__m{i}")).alias(f"mh{i}")
            for i in range(n_hashes)
        ],
    )


def minhash_sql_exprs(n_hashes: int = 16, shingle_expr: str = "shingle") -> list[str]:
    """The oracle-side expressions matching :func:`minhash_signatures`."""
    out = []
    for i in range(n_hashes):
        d, slot = divmod(i, HASHES_PER_MD5)
        out.append(
            f"min(substr(md5('{d}:' || {shingle_expr}), {slot * 4 + 1}, 4)) AS mh{i}"
        )
    return out


def lsh_bands(
    sigs: DataFrame, id_col: str, n_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """Long (id, band_idx, band_hash) table: the signature cut into
    n_hashes/band_size bands, each hashed to one bucket key."""
    if n_hashes % band_size:
        raise ValueError("band_size must divide n_hashes")
    n_bands = n_hashes // band_size
    rows = []
    for b in range(n_bands):
        cols = ",".join(f"mh{b * band_size + j}" for j in range(band_size))
        rows.append(f"{b}, md5(concat({cols}))")
    stack = f"stack({n_bands}, {', '.join(rows)}) AS (band_idx, band_hash)"
    return sigs.selectExpr(id_col, stack)


def lsh_candidate_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct (a_id, b_id), a < b, sharing at least one band bucket."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str,
    shingle_col: str = "shingle",
    threshold: float = 0.3,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs only:
    |A∩B| via a two-hop join on shingle, |A∪B| = |A|+|B|-|A∩B|.
    Candidate volume is LSH-bounded, so this never goes quadratic."""
    # Gather each *candidate* doc's shingle set into an array (the semi
    # join prunes the corpus-sized side to LSH-bounded candidate docs, and
    # per-doc sets are bounded by document length), then intersect arrays
    # pairwise — two candidate-sized joins instead of re-shuffling the
    # (doc, shingle) table on a wide composite key.
    cand_ids = (
        candidates.select(F.col("a_id").alias(id_col))
        .union(candidates.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    sets = (
        shingled.join(cand_ids, id_col, "left_semi")
        .groupBy(id_col)
        # collect_SET, not list: |A| must count distinct shingles even when
        # a caller passes duplicate (id, shingle) rows — array_intersect
        # already dedups the intersection, so a list here would overcount
        # the union term and deflate Jaccard.
        .agg(F.collect_set(shingle_col).alias("__set"))
    )
    # shuffle_hash pinned: the planner sees sets' ROW count (small) but
    # each row carries a shingle ARRAY — broadcasting it OOMs the driver
    # once the candidate population grows (observed at 50k docs / 10-way
    # replica clusters). Same size-misestimate defense as the co-location
    # kernel's self-join.
    sa = sets.select(F.col(id_col).alias("a_id"), F.col("__set").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("b_id"), F.col("__set").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    union = F.size("__sa") + F.size("__sb") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        candidates.join(sa.hint("shuffle_hash"), "a_id")
        .join(sb.hint("shuffle_hash"), "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# Above this many distinct shingles, the rarity ranking is joined with a
# plain shuffled join instead of a broadcast: a 100 TB corpus has a
# vocabulary that would OOM the driver/executors as a broadcast table.
PREFIX_BROADCAST_VOCAB_MAX = 5_000_000


def prefix_filter_candidates(
    shingled: DataFrame,
    id_col: str,
    shingle_col: str = "shingle",
    threshold: float = 0.3,
    broadcast_vocab_max: int = PREFIX_BROADCAST_VOCAB_MAX,
) -> DataFrame:
    """EXACT set-similarity candidate generation by prefix filtering
    (PPJoin family): order each document's shingles globally by rarity
    (document frequency asc, shingle asc) and keep only the first
    |d| - ceil(t·|d|) + 1 — two sets with Jaccard >= t MUST share a
    token inside these prefixes, so joining on prefix tokens yields a
    candidate set with ZERO false negatives (the guarantee MinHash-LSH
    trades away). Candidate volume is bounded by prefix-token co-occurrence
    — rare-first ordering makes prefixes the least-shared tokens, the
    standard trick that keeps this join far from quadratic at corpus
    scale. The rarity ranking attaches via a vocabulary-sized broadcast
    when the vocabulary is small enough (one count job gates it), and falls
    back to a plain shuffled equi-join on the shingle beyond
    ``broadcast_vocab_max`` — at 100 TB the vocabulary is broadcast-
    breaking and the shuffled join is the only correct shape. The window
    is per-document (never global)."""
    from pyspark.sql import Window

    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nd"))
    dfreq = shingled.groupBy(shingle_col).agg(F.count(F.lit(1)).alias("__df"))
    # the gating count is a deliberate extra job (one map-side-combined
    # aggregation pass) rather than a persist: pinning a vocabulary-sized
    # cache in executor storage for the session is exactly the resident
    # state the broadcast gate exists to avoid at 100 TB, and this function
    # returns a lazy plan, so there is no safe in-function unpersist point
    if dfreq.count() <= broadcast_vocab_max:
        dfreq = F.broadcast(dfreq)
    w = Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc(shingle_col))
    ranked = (
        shingled.join(dfreq, shingle_col)
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, id_col)  # corpus-keyed: co-partitioned with the window
    )
    prefix = ranked.where(
        F.col("__rn")
        <= F.col("__nd") - F.ceil(F.lit(threshold) * F.col("__nd")) + 1
    ).select(id_col, shingle_col)
    a = prefix.select(F.col(id_col).alias("a_id"), F.col(shingle_col).alias("__s"))
    b = prefix.select(F.col(id_col).alias("b_id"), F.col(shingle_col).alias("__s"))
    return (
        a.join(b, "__s")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def near_dup_components(
    shingled: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Near-duplicate clusters: (node_id, component_id) for every document
    in at least one verified pair, labelled with its cluster's min id.
    PPJoin candidates (exact, zero false negatives) -> Jaccard verify at
    ``threshold`` -> connected components.

    The shingles feed the candidate ranking and both sides of the verify
    join, and the verify references the candidates three times, so both
    are cached for the chain. The component kernel localCheckpoints its
    state eagerly and its labels read only that checkpoint, so both caches
    are released before this returns."""
    shingled = shingled.cache()
    cands = prefix_filter_candidates(shingled, id_col, threshold=threshold).cache()
    pairs = jaccard_verify(cands, shingled, id_col, threshold=threshold)
    comp = connected_components(pairs.select("a_id", "b_id"))
    shingled.unpersist()
    cands.unpersist()
    return comp
