#!/usr/bin/env python
"""Runnable end-to-end demo of the training-data curation surface:
documents -> exact dedup -> MinHash/LSH near-dup clusters -> canonical
keepers -> quality stats -> deterministic splits -> curated parquet.

    python examples/curation_demo.py [sf_dir] [out_dir]

Runs locally in well under a minute on the sf0.001 testdata; the same
code is the 100 TB shape: every stage is a DataFrame plan (hash-groupBy
dedup, banded LSH instead of all-pairs, candidate-bounded Jaccard,
O(log n) components, hash-percentile splits — no collect touches a
corpus-sized table).
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F

from epiteam_network_etl_functions_spark import catalog
from epiteam_network_etl_functions_spark.operators.components import (
    connected_components,
)
from epiteam_network_etl_functions_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_verify,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
)
from epiteam_network_etl_functions_spark.operators.sampling import with_split
from epiteam_network_etl_functions_spark.operators.text import (
    doc_stats,
    explode_shingles,
)
from epiteam_network_etl_functions_spark.session import get_session, prep


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curation_demo"
    spark = get_session("curation-demo")
    prep(spark)
    docs = catalog.load(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. exact dedup: one survivor per content digest
    exact = exact_dedup_groups(docs, "doc_id", "text")
    survivors = docs.join(
        exact.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi"
    )

    # 2. near-dup clusters: shingle -> minhash -> LSH bands -> verified
    #    Jaccard pairs -> connected components -> min-id keeper
    sh = explode_shingles(survivors, "doc_id", "text", k=3).cache()
    sigs = minhash_signatures(sh, "doc_id", n_hashes=16)
    cands = lsh_candidate_pairs(lsh_bands(sigs, "doc_id", 16, 4), "doc_id").cache()
    pairs = jaccard_verify(cands, sh, "doc_id", threshold=0.3)
    labels = connected_components(pairs, a_col="a_id", b_col="b_id")
    drop = labels.where(F.col("node_id") != F.col("component_id")).select(
        F.col("node_id").alias("doc_id")
    )
    curated = survivors.join(drop, "doc_id", "left_anti")

    # 3. quality stats + a simple length/uniqueness gate
    stats = doc_stats(curated, "doc_id", "text")
    kept = curated.join(
        stats.where((F.col("n_tokens") >= 5) & (F.col("uniq_ratio") > 0.2)).select(
            "doc_id"
        ),
        "doc_id",
    )

    # 4. deterministic train/val/test splits (hash-percentile: stable under
    #    repartition, retries, and re-runs)
    final = with_split(kept, "doc_id", train_pct=90, val_pct=5)

    final.write.mode("overwrite").partitionBy("split").parquet(
        os.path.join(out, "curated.parquet")
    )

    # 5. ship gate + profile: declarative invariants on the shipped set
    #    (one aggregation pass each; assert_rules raises on violation)
    from epiteam_network_etl_functions_spark.operators.profile import table_profile
    from epiteam_network_etl_functions_spark.operators.quality import (
        assert_rules,
        in_set,
        not_null,
        unique,
    )

    assert_rules(
        final,
        [
            unique("doc_id"),
            not_null("text"),
            in_set("split", ("train", "val", "test")),
        ],
    )
    profile = table_profile(final, ["doc_id", "lang", "source", "split"])

    by_split = {r["split"]: r["n"] for r in final.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    print(f"docs in: {n0}")
    print(f"after exact dedup: {survivors.count()}")
    print(f"after near-dup keepers: {curated.count()}")
    print(f"after quality gate: {kept.count()}")
    print(f"splits: {by_split}")
    print("ship gate: unique/not_null/split-domain rules all pass")
    for r in profile.collect():
        print(
            f"profile {r['column_name']}: nulls="
            f"{r['n_rows'] - r['n_nonnull']} distinct={r['n_distinct']} "
            f"range=[{r['min_val']}, {r['max_val']}]"
        )
    print(f"curated parquet: {out}/curated.parquet")
    spark.stop()


if __name__ == "__main__":
    main()
