"""End-to-end contact-matrix pipeline (reference §3.1 NetworkBuilder staging):
co-location pairs -> sizes/total -> observed -> total-vs-observed -> dense
probability matrix.

The stage boundaries that the reference materializes to `side_results/`
parquet (NetworkBuilder.py:120,151,209,260) are the CLI's stage IR
(cli.gen_tables / cli.prob_matrix); this module is the lazy plan between
them, and the one the `contact_probs` / `total_vs_observed` workload
queries run too.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..operators.contacts import (
    contact_probs,
    group_sizes,
    observed_contacts,
    total_contacts,
    total_vs_observed,
)


def contact_prob_table(
    pairs: DataFrame,
    homes: DataFrame,
    id_col: str = "caid",
    home_col: str = "home_ageb",
) -> DataFrame:
    """Long-form (a_block, b_block, total_pairs, observed, prob) table —
    the NetworkBuilder get_tables() flow after co-location as one lazy DAG.
    ``pairs`` holds the distinct ordered (a_<id>, b_<id>) co-location
    pairs, the widest shuffle in the product, computed once upstream.

    ``homes`` (one row per id) feeds three branches: the block sizes and
    both endpoint attaches. The caller passes it materialized so it is
    computed once: the CLI chain its homes IR read back from parquet, the
    registered queries a ``cache()``d winners table."""
    sizes = group_sizes(homes, block_col=home_col, id_col=id_col)
    total = total_contacts(sizes, block_col=home_col)
    obs = observed_contacts(
        pairs,
        homes,
        pair_a=f"a_{id_col}",
        pair_b=f"b_{id_col}",
        home_key=id_col,
        home_val=home_col,
    )
    tvo = total_vs_observed(total, obs, f"a_{home_col}", f"b_{home_col}")
    return contact_probs(tvo, f"a_{home_col}", f"b_{home_col}")


def probs_to_matrix(probs: DataFrame, a_col: str, b_col: str) -> tuple[list, np.ndarray]:
    """Dense numpy matrix from the long table (NetworkBuilder.py:286-325
    pivot -> .npy). The matrix is n_blocks² — driver-sized by construction.
    Returns (sorted block labels, matrix)."""
    rows = probs.select(a_col, b_col, "prob").collect()
    labels = sorted({r[a_col] for r in rows} | {r[b_col] for r in rows})
    idx = {b: i for i, b in enumerate(labels)}
    m = np.zeros((len(labels), len(labels)))
    for r in rows:
        m[idx[r[a_col]], idx[r[b_col]]] = r["prob"]
    return labels, m
