"""plans/corpus_pipeline: staged LLM-corpus composition.

Unit-level checks on a hand-built corpus where every stage's survivors are
known by construction, plus a config-consistency lock between the
CorpusConfig defaults and the corpus_funnel oracle literals (the SQL mirror
is generated from workload/text constants; a drifted threshold would
silently decertify the funnel)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from epiteam_network_etl_functions_spark.plans.corpus_pipeline import (
    CorpusConfig,
    STAGES,
    corpus_funnel,
    dedup_exact,
    dedup_fuzzy,
    decontaminate,
    gate_quality,
    pack_bins,
    run_corpus_pipeline,
)

CFG = CorpusConfig(min_tokens=4, max_rep_ratio=0.6, min_entropy=1.5)

GOOD = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
NEAR = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
LOOP = "spam spam spam spam spam spam spam spam"  # repetition + low entropy
SHORT = "one two three"


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_gate_quality(spark):
    d = _docs(spark, [(1, GOOD), (2, LOOP), (3, SHORT)])
    kept = {r.doc_id for r in gate_quality(d, CFG).collect()}
    # LOOP fails repetition+entropy, SHORT fails the token floor
    assert kept == {1}


def test_dedup_exact_keeps_min_id(spark):
    d = _docs(spark, [(5, GOOD), (2, GOOD), (3, NEAR)])
    kept = {r.doc_id for r in dedup_exact(d).collect()}
    assert kept == {2, 3}


def test_dedup_fuzzy_collapses_near_dups(spark):
    d = _docs(spark, [(1, GOOD), (2, NEAR), (9, "totally different words here ok")])
    kept = {r.doc_id for r in dedup_fuzzy(d, CFG).collect()}
    # GOOD/NEAR share 7 of 8+8 3-gram shingles (J ~ 0.78 >= 0.3) -> one keeper
    assert kept == {1, 9}


def test_decontaminate_drops_bench_overlap(spark):
    corpus = _docs(spark, [(21, GOOD), (22, "completely fresh unrelated text body")])
    bench = _docs(spark, [(1, GOOD)])
    kept = {r.doc_id for r in decontaminate(corpus, bench, CFG).collect()}
    assert kept == {22}


def test_pack_bins_contiguous(spark):
    cfg = CorpusConfig(pack_budget=5)
    d = _docs(spark, [(1, "a b c"), (2, "d e f"), (3, "g h i")])
    got = {r.doc_id: r.bin_id for r in pack_bins(d, cfg).collect()}
    # cumulative-preceding tokens: 0, 3, 6 -> bins 0, 0, 1
    assert got == {1: 0, 2: 0, 3: 1}


def test_run_pipeline_and_export(spark, tmp_path):
    other = "zulu yankee xray whiskey victor uniform tango sierra romeo"
    rows = [(1, GOOD)] + [
        (20 + i, f"{other} tail{i}") for i in range(6)
    ] + [(40, GOOD), (41, NEAR), (50, LOOP)]
    corpus = _docs(spark, [r for r in rows if r[0] >= 20])
    bench = _docs(spark, [r for r in rows if r[0] < 20])
    out = os.path.join(tmp_path, "shards")
    res = run_corpus_pipeline(corpus, bench, CFG, out_dir=out, shards=2)
    kept = {r.doc_id for r in res.decontaminated.collect()}
    # 50 fails gates; 40/41 collapse to keeper 40, which is then dropped
    # as benchmark-contaminated (GOOD is a bench doc); the 6 padded docs
    # are mutually near-dup (shared `other` prefix) and collapse to the
    # min id 20, which shares nothing with bench -> survives
    assert kept == {20}
    packed = {r.doc_id: r.bin_id for r in res.packed.collect()}
    assert set(packed) == {20}
    n_exported = (
        spark.read.json(out).count() if os.path.isdir(out) else 0
    )
    assert n_exported == 1


@pytest.fixture(scope="module")
def funnel(spark):
    rows = (
        [(i, f"bench doc number {i} unique tail {i}") for i in range(3)]
        + [(20 + i, f"{GOOD} pad{i} pad{i} tail{i}") for i in range(4)]
        + [(30, GOOD), (31, GOOD), (32, NEAR), (50, LOOP)]
    )
    docs = _docs(spark, [r for r in rows if r[0] >= 20])
    bench = _docs(spark, [r for r in rows if r[0] < 20])
    return corpus_funnel(run_corpus_pipeline(docs, bench, CFG))


def test_funnel_counts_monotone(funnel):
    out = sorted((r.stage_id, r.stage, r.docs_in, r.docs_out) for r in funnel.collect())
    assert [r[1] for r in out] == list(STAGES)
    assert out[0][2] == out[0][3] == 8  # raw
    for (_, _, di, do), (_, _, _, prev) in zip(out[1:], out[:-1]):
        assert di == prev and do <= di  # chained + monotone


def test_funnel_counts_a_fanned_out_input(spark):
    """A corpus of one split is fanned out behind a lazy checkpoint before
    the gate; the funnel's raw count is still the input's, with AQE off
    too (an observation inside that checkpoint completes when it is
    defined and reads 0)."""
    docs = _docs(spark, [(20 + i, f"{GOOD} pad{i} tail{i}") for i in range(6)]).coalesce(1)
    if docs.rdd.getNumPartitions() * 4 > spark.sparkContext.defaultParallelism:
        pytest.skip("fan_out needs at least 4 cores to trigger")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        res = run_corpus_pipeline(docs, _docs(spark, [(1, SHORT)]), CFG)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert res.counts[0] == 6, res.counts


def test_funnel_plan_has_no_window(funnel):
    """docs_in comes from the previous stage's count without a window: a
    partitionless window would move the five rows to one partition and log
    Spark's single-partition warning on every corpus run, burying the same
    warning where it matters (pack_bins)."""
    plan = funnel._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_funnel_oracle_constants_match_config():
    """The corpus_funnel SQL literals are generated from workload/text
    module constants; lock them to the CorpusConfig defaults the Spark
    side runs with."""
    from epiteam_network_etl_functions_spark.workload import text as wt

    cfg = CorpusConfig()
    assert wt._CF_MIN_TOKENS == cfg.min_tokens
    assert wt._CF_MAX_REP == cfg.max_rep_ratio
    assert wt._CF_MIN_ENTROPY == cfg.min_entropy
    assert wt.JACCARD_THRESHOLD == cfg.jaccard_threshold
    assert str(cfg.min_tokens) in wt._FUNNEL_CTES
    assert str(cfg.max_rep_ratio) in wt._FUNNEL_CTES
    assert str(cfg.min_entropy) in wt._FUNNEL_CTES
