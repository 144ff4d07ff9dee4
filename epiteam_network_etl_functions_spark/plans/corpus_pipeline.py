"""The LLM-corpus preparation pipeline as one composition.

Mirrors the staged mobility CLI (cli.py, after the reference's own staged
driver, NetworkBuilder.py:264-284) for the training-data side of the
engine:

    raw corpus -> quality gates (Gopher-family rules)
               -> exact dedup (md5 keeper)
               -> fuzzy dedup (PPJoin pairs -> connected components -> keeper)
               -> benchmark decontamination (shingle overlap)
               -> sequence packing (token-budget bins)
               -> JSONL shard export

Every stage is an already-certified kernel (operators/text.py,
operators/dedup.py, operators/components.py); this module is the
orchestrating composition plus the per-stage funnel report
(``corpus_funnel``) that the ``corpus_funnel`` workload query certifies
end-to-end against a DuckDB oracle.

Scale notes (the 100 TB shape): the quality gates are map-only and fuse
with the scan; exact dedup is one digest groupBy; the fuzzy stage is the
prefix-filtered PPJoin (never all-pairs) plus O(log n) large-/small-star
component rounds over the verified pairs; decontamination broadcasts only
the benchmark shingle set (eval suites are tiny by construction); packing is
per-shard-parallel (see doc_pack_bins); the export is a size-uniform
round-robin shard write. No stage holds data-sized driver state.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, functions as F

from ..operators.dedup import near_dup_components
from ..operators.text import (
    bigram_repetition_ratio,
    char_entropy_nats,
    explode_shingles,
    tokens_col,
)


@dataclass(frozen=True)
class CorpusConfig:
    """Gate thresholds + dedup/packing parameters (one knob object)."""

    min_tokens: int = 15
    max_rep_ratio: float = 0.10
    min_entropy: float = 2.7
    shingle_k: int = 3
    jaccard_threshold: float = 0.3
    contam_min_shared: int = 2
    pack_budget: int = 512


# ---- stages -----------------------------------------------------------------


def fan_out(docs: DataFrame) -> DataFrame:
    """Spread a corpus of few splits over the cluster before the quality
    gate (the tfidf_top_terms rule, with a twist): the gate's per-row
    entropy/bigram work expands far beyond the compressed bytes, so a
    corpus that is a handful of parquet splits would run the gate on as
    many tasks. A bare repartition() does NOT fix it — Catalyst pushes the
    deterministic gate predicates through the exchange down to the narrow
    scan stage (measured: 115 s either way at the 10x tier, where one
    5.8 MB file gave 2 splits on 32 cores, vs ~6 s once the work actually
    lands on 32 tasks). The barrier must be hard: when the input's split
    count is far below the cluster parallelism, the repartitioned raw docs
    are localCheckpointed (an RDD boundary no filter can sink below) and
    the gate evaluates on the fanned-out copy — measured 115 s -> 8 s. The
    checkpoint is LAZY (eager=False): nothing materializes unless the
    caller actually executes the gated result, and repeated plan-building
    invocations don't pin executor storage. Fault-tolerance trade-off,
    accepted: localCheckpoint truncates lineage, so an executor loss after
    materialization fails the job instead of recomputing — fine in local
    mode and for the small-split case this branch guards; at production
    scale the input has thousands of splits so neither the shuffle nor the
    checkpoint ever happens."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() * 4 <= sc.defaultParallelism:
        return docs.repartition(sc.defaultParallelism).localCheckpoint(eager=False)
    return docs


def gate_quality(
    docs: DataFrame,
    cfg: CorpusConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-family quality gate: token-count floor, bigram-repetition
    ceiling, char-entropy floor. All three are per-row JVM array
    arithmetic (operators/text kernels) — map-only, fuses with the scan
    (see fan_out for inputs of few splits)."""
    toks = tokens_col(text_col)
    rep = bigram_repetition_ratio(toks)
    ent = char_entropy_nats(F.col(text_col))
    return docs.where(
        (F.size(toks) >= cfg.min_tokens)
        & (F.coalesce(rep, F.lit(0.0)) <= cfg.max_rep_ratio)
        & (ent >= cfg.min_entropy)
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id copy of each byte-identical text: one digest groupBy
    (narrow keys), then a semi-join back to the full rows."""
    keepers = (
        docs.select(
            F.md5(F.col(text_col).cast("binary")).alias("__h"), F.col(id_col)
        )
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keepers, id_col, "left_semi")


def dedup_fuzzy(
    docs: DataFrame,
    cfg: CorpusConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Transitive-closure fuzzy dedup: near-dup clusters (PPJoin pairs ->
    Jaccard verify -> connected components, operators/dedup
    .near_dup_components) -> keep the min-id doc per component; docs in no
    near-dup pair keep themselves. The same chain as the certified
    fuzzy_dedup_components query."""
    comp = near_dup_components(
        explode_shingles(docs, id_col, text_col, k=cfg.shingle_k),
        id_col,
        cfg.jaccard_threshold,
    )
    losers = comp.where(F.col("node_id") != F.col("component_id")).select(
        F.col("node_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    cfg: CorpusConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop corpus docs sharing >= ``contam_min_shared`` distinct k-gram
    shingles with the benchmark set. The benchmark shingle set broadcasts
    (eval suites are tiny); the corpus side is one linear shingle pass."""
    sh = explode_shingles(docs, id_col, text_col, k=cfg.shingle_k)
    bsh = explode_shingles(bench, id_col, text_col, k=cfg.shingle_k).select(
        "shingle"
    ).distinct()
    contaminated = (
        sh.join(F.broadcast(bsh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n_shared"))
        .where(F.col("__n_shared") >= cfg.contam_min_shared)
        .select(id_col)
    )
    return docs.join(contaminated, id_col, "left_anti")


def pack_bins(
    docs: DataFrame,
    cfg: CorpusConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contiguous-fill sequence packing in id order (same kernel as the
    certified doc_pack_bins query): bin = floor(preceding-cumulative-tokens
    / budget). The running sum is one global window with no partition key,
    so Spark moves every row into a single partition to compute it."""
    from pyspark.sql import Window

    n_tokens = F.size(tokens_col(text_col))
    w = Window.orderBy(F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return docs.select(F.col(id_col), n_tokens.alias("n_tokens")).select(
        id_col,
        "n_tokens",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / cfg.pack_budget)
        .cast("bigint")
        .alias("bin_id"),
    )


# ---- composition ------------------------------------------------------------


STAGES = ("raw", "quality_gate", "exact_dedup", "fuzzy_dedup", "decontaminate")


@dataclass
class CorpusResult:
    gated: DataFrame
    exact_kept: DataFrame
    fuzzy_kept: DataFrame
    decontaminated: DataFrame
    packed: DataFrame
    counts: tuple[int, ...]  # documents out of each of the STAGES


def run_corpus_pipeline(
    docs: DataFrame,
    bench: DataFrame,
    cfg: CorpusConfig | None = None,
    out_dir: str | None = None,
    shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> CorpusResult:
    """The full composition. When ``out_dir`` is given, the surviving
    documents are exported as size-uniform JSONL shards (sources/io).

    Each of the four stage boundaries is localCheckpointed — the
    reference's materialized-stage-IR discipline (every stage writes
    parquet before the next reads it) — so every consumer of a stage
    frame (the next stage, the export) reads it without replaying the
    upstream chain. At production scale swap localCheckpoint for a
    parquet write per stage — same plan shape, restartable.

    The document count of the input and of each boundary is observed on
    the checkpoint job that materializes it, so ``counts`` (the funnel
    report, the export's shard size) costs no job of its own. The input
    count is observed above fan_out's lazy checkpoint, not inside it: with
    AQE off, an observation inside a lazy checkpoint completes when the
    checkpoint is defined, before any row is read, and reads 0."""
    cfg = cfg or CorpusConfig()
    seen = [Observation() for _ in STAGES]

    def counted(df: DataFrame, stage: int) -> DataFrame:
        return df.observe(seen[stage], F.count(F.lit(1)).alias("n"))

    gated = counted(gate_quality(counted(fan_out(docs), 0), cfg, id_col, text_col), 1)
    gated = gated.localCheckpoint()
    exact = counted(dedup_exact(gated, id_col, text_col), 2).localCheckpoint()
    fuzzy = counted(dedup_fuzzy(exact, cfg, id_col, text_col), 3).localCheckpoint()
    clean = counted(decontaminate(fuzzy, bench, cfg, id_col, text_col), 4)
    clean = clean.localCheckpoint()
    counts = tuple(int(o.get["n"]) for o in seen)
    packed = pack_bins(clean, cfg, id_col, text_col)
    if out_dir is not None:
        from ..sources.io import write_jsonl_shards

        write_jsonl_shards(
            clean, out_dir, records_per_shard=max(1, -(-counts[-1] // shards))
        )
    return CorpusResult(gated, exact, fuzzy, clean, packed, counts)


def corpus_funnel(res: CorpusResult) -> DataFrame:
    """Per-stage survival report (stage_id, stage, docs_in, docs_out) of
    a finished ``run_corpus_pipeline`` run — the dedup-rate audit every
    corpus build publishes. Five local rows built from the counts the run
    observed, each stage's docs_in being the previous stage's docs_out:
    no Spark job computes them. All counts are exact BIGINTs, the
    stage_id is the unique sort key."""
    n = res.counts
    return res.packed.sparkSession.createDataFrame(
        [(i, stage, n[max(i - 1, 0)], n[i]) for i, stage in enumerate(STAGES)],
        "stage_id int, stage string, docs_in bigint, docs_out bigint",
    )
