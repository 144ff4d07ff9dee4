"""Text-analysis + dedup workload over the `documents` table.

The corpus is clean lowercase space-separated tokens, so the split
delimiter is a single space on both engines; the library kernels accept a
regex for raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import catalog
from ..operators.dedup import (
    exact_dedup_groups,
    jaccard_verify,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_components,
)
from ..operators.text import (
    classify_by_lexicons,
    doc_stats,
    explode_shingles,
    fingerprint,
    quality_scores,
)
from ..plans.corpus_pipeline import CorpusConfig
from ..session import prep
from . import query

N_HASHES = 16
BAND_SIZE = 4
JACCARD_THRESHOLD = 0.3

# Topic lexicons fitted to the synthetic corpus vocabulary (the kernel is
# the same argmax-lexicon classifier used for language ID on real text).
TOPICS = {
    "sql": ("join", "query", "filter", "group", "agg"),
    "storage": ("scan", "table", "column", "row", "part"),
    "stream": ("stream", "batch", "window", "value"),
}

# ---- shared DuckDB CTEs ----------------------------------------------------

_DSH_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
dsh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(t)-1),
                  i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS shingle
    FROM toks
)
"""

from ..operators.dedup import minhash_sql_exprs

_SIG_COLS = ",\n        ".join(minhash_sql_exprs(N_HASHES))
_SIGS_CTE = f"""
sigs AS (
    SELECT doc_id, {_SIG_COLS}
    FROM dsh GROUP BY doc_id
)
"""

_BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, md5({cat}) AS band_hash FROM sigs".format(
        b=b,
        cat="||".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE)),
    )
    for b in range(N_HASHES // BAND_SIZE)
)
_BANDS_CTE = f"bands AS ({_BAND_SELECTS})"

_CANDS_CTE = """
cands AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b USING (band_idx, band_hash)
    WHERE a.doc_id < b.doc_id
)
"""

_MINHASH_PIPELINE = f"{_DSH_CTE.strip()},\n{_SIGS_CTE.strip()},\n{_BANDS_CTE},\n{_CANDS_CTE.strip()}"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return catalog.load(spark, sf_dir, "documents")


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return explode_shingles(_docs(spark, sf_dir), "doc_id", "text", k=3)


def _sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_shingled(spark, sf_dir), "doc_id", n_hashes=N_HASHES)


@query(
    "doc_token_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           round(len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')), 6) AS uniq_ratio,
           round((length(text) - (len(string_split(text, ' ')) - 1))
                 / len(string_split(text, ' ')), 6) AS avg_token_len
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring stats: token count, distinct ratio, avg token length —
    pure per-row array arithmetic, zero shuffles."""
    return doc_stats(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "doc_topic_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
        SELECT doc_id,
        {', '.join(
            "len(list_filter(toks, x -> list_contains(" +
            "[" + ", ".join("'" + w + "'" for w in words) + "], x))) AS score_" + name
            for name, words in TOPICS.items()
        )}
        FROM t
    )
    SELECT doc_id, score_sql, score_storage, score_stream,
           CASE WHEN score_sql >= score_storage AND score_sql >= score_stream THEN 'sql'
                WHEN score_storage >= score_stream THEN 'storage'
                ELSE 'stream' END AS pred
    FROM s
    """,
)
def doc_topic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-lexicon classifier (the language-ID kernel shape: score each
    lexicon's hits, take the max with declaration-order tie-break)."""
    return classify_by_lexicons(_docs(spark, sf_dir), "doc_id", "text", TOPICS)


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint (md5 of sorted distinct
    tokens) — content-based grouping key."""
    return fingerprint(_docs(spark, sf_dir), "doc_id", "text")


STOPWORDS = ("a", "the")


@query(
    "doc_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(toks, x -> list_contains(['a', 'the'], x)))
               AS n_stopwords,
           round(len(list_filter(toks, x -> list_contains(['a', 'the'], x)))
                 * 1.0 / len(toks), 6) AS stop_ratio,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS uniq_ratio,
           (len(toks) >= 5
            AND round(len(list_filter(toks, x -> list_contains(['a', 'the'], x)))
                      * 1.0 / len(toks), 6) <= 0.5
            AND round(len(list_distinct(toks)) * 1.0 / len(toks), 6) >= 0.2)
               AS keep
    FROM t
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate (stopword ratio + uniqueness + length — the Gopher/C4
    pre-training filter shape) over the documents table; per-row array
    arithmetic, zero shuffles."""
    return quality_scores(_docs(spark, sf_dir), "doc_id", "text", STOPWORDS)


@query(
    "exact_dedup_groups",
    oracle="""
    SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper_id
    FROM documents GROUP BY md5(text)
    """,
)
def exact_dedup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest, min-id keeper."""
    return exact_dedup_groups(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "minhash_signatures",
    oracle=f"WITH {_DSH_CTE.strip()},\n{_SIGS_CTE.strip()} SELECT * FROM sigs",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-hash MinHash signature per doc over word-3-gram shingles; the
    portable seeded-md5 hash family keeps it engine-neutral."""
    return _sigs(spark, sf_dir)


@query(
    "lsh_candidates",
    oracle=f"WITH {_MINHASH_PIPELINE} SELECT * FROM cands",
)
def lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 4 hashes): near-dup candidates via equi-join
    on band buckets — the scale path that avoids all-pairs comparison."""
    bands = lsh_bands(_sigs(spark, sf_dir), "doc_id", N_HASHES, BAND_SIZE)
    return lsh_candidate_pairs(bands, "doc_id")


def _materialize_release(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """THE cache/unpersist choreography, in one place: eagerly materialize
    a (small, report-sized) result via localCheckpoint — lineage cut, so
    the returned frame no longer references the cached subtrees — THEN
    release the caches that backed its computation. Doing these two steps
    in the right order is the whole point: returning a lazy result after
    unpersisting silently de-caches a plan that still needs the cache, and
    the multi-branch subtree replays once per branch at collect time (the
    bug class this helper retires — two calibration queries shipped that
    way). dedup_keepers passes connected_components' labels, which already
    read only the kernel's own checkpoint; the extra checkpoint of an
    already-materialized frame is cheap and keeps one discipline."""
    out = result.localCheckpoint()
    for frame in caches:
        frame.unpersist()
    return out


def _ppjoin_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster labels over the documents' word-3-gram shingles at
    JACCARD_THRESHOLD — the corpus stage's chain
    (operators/dedup.near_dup_components), caches already released;
    callers (fuzzy_dedup_components, near_dup_cluster_sizes,
    near_dup_cluster_source_mix) only shape the label frame."""
    return near_dup_components(_shingled(spark, sf_dir), "doc_id", JACCARD_THRESHOLD)


def _near_dup_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """(verified near-dup pairs, the cached frames backing them). Callers
    that materialize downstream state (dedup_keepers' checkpointed labels)
    should unpersist the returned caches when done."""
    # The distinct-shingle table feeds four branches (signatures, both
    # sides of the intersection join, sizes): cache it in memory. (Eager
    # localCheckpoint was measured slower — serialization up front and it
    # hides stats from the joins.)
    sh = _shingled(spark, sf_dir).cache()
    sigs = minhash_signatures(sh, "doc_id", n_hashes=N_HASHES)
    bands = lsh_bands(sigs, "doc_id", N_HASHES, BAND_SIZE)
    # cache the candidate pairs too: jaccard_verify references them three
    # times (a-ids, b-ids, final join) and without materialization each
    # reference re-runs the whole shingle->sig->band->join subtree.
    cands = lsh_candidate_pairs(bands, "doc_id").cache()
    return jaccard_verify(cands, sh, "doc_id", threshold=JACCARD_THRESHOLD), (sh, cands)


@query(
    "near_dup_pairs",
    oracle=f"""
    WITH {_MINHASH_PIPELINE},
    na AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    )
    SELECT i.a_id, i.b_id,
           round(i.i * 1.0 / (a.n + b.n - i.i), 6) AS jaccard
    FROM inter i JOIN na a ON a.doc_id = i.a_id JOIN na b ON b.doc_id = i.b_id
    WHERE round(i.i * 1.0 / (a.n + b.n - i.i), 6) >= {JACCARD_THRESHOLD}
    """,
)
def near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> band -> candidate join
    -> exact Jaccard verification at threshold 0.3."""
    pairs, _ = _near_dup_pipeline(spark, sf_dir)
    return pairs


@query(
    "dedup_keepers",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PIPELINE},
    na AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    ),
    nd AS (
        SELECT i.a_id, i.b_id
        FROM inter i JOIN na a ON a.doc_id = i.a_id JOIN na b ON b.doc_id = i.b_id
        WHERE round(i.i * 1.0 / (a.n + b.n - i.i), 6) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM nd
        UNION ALL SELECT b_id, a_id FROM nd
    ),
    reach(id, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
    )
    SELECT id AS doc_id, min(r) AS keeper_id, id = min(r) AS keep
    FROM reach GROUP BY id
    """,
)
def dedup_keepers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operation a 100 TB text pipeline actually runs: near-dup pairs ->
    connected components (large/small-star, O(log n) rounds) -> min-id
    canonical keeper per cluster. One row per clustered doc with its keeper
    and a keep flag; docs with no near-dup never enter the component step.
    The DuckDB oracle closes the pair graph with a recursive reachability
    CTE — a genuinely different component algorithm, so the differential
    checks the clustering semantics, not the implementation."""
    from ..operators.components import connected_components

    pairs, cached = _near_dup_pipeline(spark, sf_dir)
    # the component kernel localCheckpoints its edge state, so its labels
    # no longer read the upstream caches; the shared choreography releases
    # them, which would otherwise leak one copy per invocation
    labels = _materialize_release(
        connected_components(pairs, a_col="a_id", b_col="b_id"), *cached
    )
    return labels.select(
        F.col("node_id").alias("doc_id"),
        F.col("component_id").alias("keeper_id"),
        (F.col("node_id") == F.col("component_id")).alias("keep"),
    )


# Character-trigram marker profiles for language ID (classic n-gram-profile
# heuristic: function-word trigrams for latin scripts, pinyin markers for
# zh). Declaration order is the argmax tie-break order.
LANG_PROFILES = {
    "en": (" th", "the", "he ", " an", "nd "),
    "es": (" de", "de ", " la", "la ", " el"),
    "fr": (" le", "le ", " et", "et ", " qu"),
    "de": ("der", "er ", " un", "und", "ich"),
    "zh": ("shi", "zhi", "ang", "eng", " wo"),
}


def _lang_score_sql(grams: tuple[str, ...]) -> str:
    return " + ".join(
        f"CAST((length(text) - length(replace(text, '{g}', ''))) // {len(g)} AS BIGINT)"
        for g in grams
    )


_LANG_SCORES_SQL = ",\n           ".join(
    f"{_lang_score_sql(grams)} AS s_{name}" for name, grams in LANG_PROFILES.items()
)


def _lang_case_sql() -> str:
    names = list(LANG_PROFILES)
    whens = []
    for i, name in enumerate(names[:-1]):
        cond = " AND ".join(f"s_{name} >= s_{other}" for other in names[i + 1 :])
        whens.append(f"WHEN {cond} THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


@query(
    "doc_language_id",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
           {_LANG_SCORES_SQL}
        FROM documents
    )
    SELECT doc_id, lang, s_en, s_es, s_fr, s_de, s_zh,
           {_lang_case_sql()} AS pred_lang
    FROM s
    """,
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID over `documents`, scored against the
    table's labelled `lang` column. Map-only string arithmetic (no UDF, no
    shuffle) — at 100 TB this pipelines with the scan. The synthetic corpus
    shares one vocabulary across langs, so predictions aren't accurate here;
    the differential locks the scoring + argmax kernel exactly."""
    from ..operators.text import language_id_scores

    docs = _docs(spark, sf_dir)
    scored = language_id_scores(
        docs.select("doc_id", "lang", "text"), "doc_id", "text", LANG_PROFILES
    )
    return docs.select("doc_id", "lang").join(scored, "doc_id").select(
        "doc_id", "lang", "s_en", "s_es", "s_fr", "s_de", "s_zh", "pred_lang"
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term <> '' GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
               round(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df_docs + 1.0)) + 1.0),
                     6) AS score
        FROM tf JOIN dfq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT scored.*, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tf, df_docs, score, rnk FROM ranked WHERE rnk <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed sklearn idf). Two shuffles
    (term counts; per-term document frequency as a window) plus a
    per-document window. The corpus size N is folded into the SAME plan
    as a scalar-aggregate broadcast (``n_docs=None``): the pre-r14 form
    resolved N with an eager ``d.count()`` at plan-build time, which let
    that job escape the bench's timed region once the r14 methodology
    stopped timing plan construction (OPTIMIZATION_r14.md). The in-plan
    fold costs one column-pruned count subtree + a 1-row broadcast — the
    price of having every Spark job run inside the timed action. Ranks
    on the ROUNDED score so cross-engine float ulp drift can't flip
    ranks (ties resolve on the term)."""
    from ..operators.text import tfidf_top_terms

    d = _docs(spark, sf_dir)
    return tfidf_top_terms(d, "doc_id", "text", n_docs=None, k=3)


@query(
    "exact_near_dup_pairs",
    oracle=f"""
    WITH {_DSH_CTE.strip()},
    sizes AS (SELECT doc_id, count(*) AS nd FROM dsh GROUP BY doc_id),
    dfq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle),
    ranked AS (
        SELECT d.doc_id, d.shingle, s.nd,
               row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY q.df ASC, d.shingle ASC) AS rn
        FROM dsh d JOIN dfq q USING (shingle) JOIN sizes s USING (doc_id)
    ),
    pfx AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rn <= nd - ceil({JACCARD_THRESHOLD} * nd) + 1
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM pfx a JOIN pfx b USING (shingle)
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    )
    SELECT i.a_id, i.b_id,
           round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes a ON a.doc_id = i.a_id
    JOIN sizes b ON b.doc_id = i.b_id
    WHERE round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) >= {JACCARD_THRESHOLD}
    """,
)
def exact_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate pairs by prefix filtering (PPJoin family) —
    zero false negatives, the guarantee the MinHash-LSH path trades for
    speed (operators/dedup.prefix_filter_candidates). On this corpus the
    exact result equals near_dup_pairs' LSH result at sf0.01 — measured
    100% LSH recall, now locked by an oracle on the exact side too."""
    from ..operators.dedup import jaccard_verify, prefix_filter_candidates

    # Same caching discipline as _near_dup_pipeline: the distinct-shingle
    # table feeds five branches (df ranking, both candidate-join sides,
    # verify sets, sizes) and the candidate pairs feed three — without
    # materialization each reference replays the whole explode subtree
    # (audited: ~6 redundant scans in the uncached plan).
    shingled = _shingled(spark, sf_dir).cache()
    cands = prefix_filter_candidates(
        shingled, "doc_id", threshold=JACCARD_THRESHOLD
    ).cache()
    return jaccard_verify(cands, shingled, "doc_id", threshold=JACCARD_THRESHOLD)


@query(
    "doc_rolling_hash",
    oracle="""
    SELECT doc_id,
           CAST(list_reduce(
               list_prepend('0', string_split(text, '')),
               (acc, x) -> CAST((CAST(acc AS BIGINT) * 31 + ascii(x))
                                % 1000000007 AS VARCHAR)
           ) AS BIGINT) AS rhash
    FROM documents
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-SENSITIVE polynomial rolling hash (Rabin-Karp, base 31 mod
    1e9+7) of the full document — the content-fingerprint complement to
    the order-insensitive md5-of-sorted-tokens fingerprint: re-ordered
    text changes this hash, so it detects exact-sequence duplicates and
    feeds content-defined chunking. Map-only sequential fold (F.aggregate
    over the char array, exact int64 arithmetic — products stay < 2^35);
    the oracle folds the identical recurrence with list_reduce."""
    docs = _docs(spark, sf_dir)
    rh = F.aggregate(
        F.split(F.col("text"), ""),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.ascii(x)) % 1000000007,
    )
    return docs.select("doc_id", rh.alias("rhash"))


@query(
    "doc_pack_bins",
    oracle="""
    WITH counted AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (
                   ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM counted
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_id
    FROM packed
    """,
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents to fixed token-budget bins (512
    here), the pretraining step that turns ragged documents into dense
    training sequences. Contiguous-fill packing in doc_id order: bin id =
    floor(preceding-cumulative-tokens / budget), a single running-sum
    window, fully deterministic and SQL-expressible (vs bin-packing
    heuristics, which are neither). The global ORDER BY window is the
    deliberate cost: packing IS a global sequential assignment — at 100 TB
    you run it per-shard (partitionBy(shard) makes the same window
    embarrassingly parallel, same plan shape)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    n_tokens = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    w = Window.orderBy(F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    counted = d.select("doc_id", n_tokens.alias("n_tokens"))
    return counted.select(
        "doc_id",
        "n_tokens",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512)
        .cast("bigint")
        .alias("bin_id"),
    )


@query(
    "benchmark_contamination",
    oracle=f"""
    WITH {_DSH_CTE.strip()},
    bench AS (SELECT shingle FROM dsh WHERE doc_id < 20),
    hits AS (
        SELECT d.doc_id, count(DISTINCT d.shingle) AS n_shared
        FROM dsh d JOIN bench b ON d.shingle = b.shingle
        WHERE d.doc_id >= 20
        GROUP BY d.doc_id
    )
    SELECT doc_id, n_shared FROM hits WHERE n_shared >= 2
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag corpus documents sharing >= 2
    distinct 3-gram shingles with a benchmark set (docs 0-19 stand in for
    the held-out eval set). The dedup shingle table serves both sides: the
    benchmark side is tiny and broadcasts, so the check is one broadcast
    semi-ish join + per-doc distinct count over the corpus — linear in the
    corpus at 100 TB, which is why shingle-overlap (not embedding
    similarity) is the standard first-pass contamination gate."""
    from ..operators.text import explode_shingles

    sh = explode_shingles(_docs(spark, sf_dir), "doc_id", "text", k=3)
    bench = sh.where(F.col("doc_id") < 20).select("shingle").distinct()
    return (
        sh.where(F.col("doc_id") >= 20)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


def _doc_chunks(d: DataFrame) -> DataFrame:
    """(doc_id, source, chunk): tumbling 8-token chunks per document,
    pure JVM array arithmetic (sequence + slice + explode — no UDF).
    Empty/whitespace-only docs are gated out: they would make
    F.sequence(0, -1) DESCEND and emit two phantom empty chunks the
    oracles (range(0,0) = no rows) never see. Shared by
    chunk_dup_report and cross_source_chunk_leakage."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    d = d.where(F.size(toks) > 0)
    n_chunks = F.ceil(F.size(toks) / 8.0).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
    )
    return d.select("doc_id", "source", F.explode(chunk_arr).alias("chunk"))


@query(
    "chunk_dup_report",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ') AS chunk
        FROM toks,
             unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)
    )
    SELECT md5(chunk) AS chunk_hash,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM chunks GROUP BY chunk_hash
    HAVING count(*) > 1
    """,
)
def chunk_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication report — exact dedup at SUB-document
    granularity (tumbling 8-token chunks), the unit RAG pipelines and
    fine-grained dedup policies operate on: boilerplate repeated across
    documents is invisible to whole-document dedup but lights up here.
    Chunking is pure JVM array arithmetic per row (sequence + slice +
    posexplode — no UDF), then one md5-digest groupBy; the same linear
    one-shuffle shape as exact_dedup_groups, just on ~L/8 times more,
    smaller keys."""
    chunks = _doc_chunks(_docs(spark, sf_dir))
    return (
        chunks.groupBy(F.md5(F.col("chunk").cast("binary")).alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_occurrences") > 1)
    )


@query(
    "doc_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               len(t) - 1 AS n_bigrams,
               len(list_distinct(list_transform(range(1, len(t)),
                   i -> t[i] || '_' || t[i+1]))) AS n_distinct
        FROM toks WHERE len(t) >= 2
    )
    SELECT doc_id, n_bigrams, n_distinct,
           round(1.0 - n_distinct * 1.0 / n_bigrams, 6) AS rep_ratio
    FROM grams
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition ratio (the Gopher-family quality rule:
    1 - distinct-bigrams/total-bigrams; high values flag boilerplate and
    degenerate generation loops). Entirely per-row JVM array arithmetic —
    transform to bigrams, array_distinct, two sizes — so the op is
    map-only and pipelines with the scan at any corpus size. The ratio is
    computed by the library kernel ``operators.text.bigram_repetition_ratio``
    so this oracle certifies the reusable function, not a re-spelling."""
    from ..operators.text import bigram_repetition_ratio

    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # gate <2-token docs on the INPUT: F.sequence(1, 0) would descend
    # through 0 and element_at(toks, 0) raises at runtime; relying on the
    # derived n_bigrams>=1 filter being pushed below the projection is
    # optimizer behavior, not a contract
    d = d.where(F.size(toks) >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws("_", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return d.select(
        "doc_id",
        (F.size(toks) - 1).alias("n_bigrams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
        bigram_repetition_ratio(toks).alias("rep_ratio"),
    ).where(F.col("n_bigrams") >= 1)


@query(
    "doc_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
        FROM documents
    ),
    freq AS (
        SELECT doc_id, ch, count(*) AS c FROM chars
        WHERE ch <> '' GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id)
    SELECT f.doc_id,
           CAST(max(t.n) AS BIGINT) AS n_chars,
           round(-sum((f.c * 1.0 / t.n) * ln(f.c * 1.0 / t.n)), 6)
               AS entropy_nats
    FROM freq f JOIN tot t ON t.doc_id = f.doc_id
    GROUP BY f.doc_id
    """,
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the cheap
    perplexity proxy quality filters use to drop degenerate/binary-ish
    text (very low entropy = repetition, very high = random bytes).
    Frequencies are computed per-row in array space (array_distinct +
    per-char counts via JVM filter/size — no explode, no shuffle), so
    like doc_repetition this is map-only; entropy sums over each doc's
    alphabet, exact integer counts feeding one rounded float per row.
    The entropy itself comes from the library kernel
    ``operators.text.char_entropy_nats`` so the oracle certifies it."""
    from ..operators.text import char_entropy_nats

    d = _docs(spark, sf_dir)
    chars = F.filter(
        F.split(F.col("text"), ""), lambda x: x != ""
    )
    return d.select(
        "doc_id",
        F.size(chars).cast("bigint").alias("n_chars"),
        char_entropy_nats(F.col("text")).alias("entropy_nats"),
    ).where(F.col("n_chars") >= 1)


@query(
    "quality_quantile_keep",
    oracle="""
    SELECT doc_id, source, n_chars, round(pr, 6) AS length_pr
    FROM (
        SELECT doc_id, source, n_chars,
               percent_rank() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
               ) AS pr
        FROM documents
    )
    WHERE pr >= 0.2
    """,
)
def quality_quantile_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality-quantile gate (the C4-style filter): within each
    source, rank documents by a quality signal (length here) and keep the
    top 80% — the threshold is a PER-GROUP quantile, not a global constant,
    so low-quality-heavy domains are trimmed harder in absolute terms.
    Expressed as percent_rank over (source)-partitioned windows: one
    shuffle on source, rank ties broken by doc_id so the kept SET is
    deterministic, and the rank fraction (r-1)/(n-1) is the same IEEE
    division on both engines. At 100 TB the window partitions by domain —
    natural parallelism; a skewed mega-domain would switch to the
    sampled-quantile + broadcast-threshold variant, trading exactness for
    a balanced map-only gate."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.percent_rank().over(w).alias("pr"),
        )
        .where(F.col("pr") >= 0.2)
        .select(
            "doc_id", "source", "n_chars", F.round("pr", 6).alias("length_pr")
        )
    )


@query(
    "fuzzy_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_DSH_CTE.strip()},
    sizes AS (SELECT doc_id, count(*) AS nd FROM dsh GROUP BY doc_id),
    dfq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle),
    ranked AS (
        SELECT d.doc_id, d.shingle, s.nd,
               row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY q.df ASC, d.shingle ASC) AS rn
        FROM dsh d JOIN dfq q USING (shingle) JOIN sizes s USING (doc_id)
    ),
    pfx AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rn <= nd - ceil({JACCARD_THRESHOLD} * nd) + 1
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM pfx a JOIN pfx b USING (shingle)
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    ),
    pairs AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes a ON a.doc_id = i.a_id
        JOIN sizes b ON b.doc_id = i.b_id
        WHERE round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION SELECT b_id, a_id FROM pairs
    ),
    reach(id, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM reach r
        JOIN edges e ON e.dst = r.id WHERE r.lbl < e.src
    )
    SELECT id AS doc_id, min(lbl) AS component_id,
           (id = min(lbl)) AS is_keeper
    FROM reach GROUP BY id
    """,
)
def fuzzy_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure fuzzy dedup (the MinHash-pipeline tail the big
    corpus builders run): near-duplicate PAIRS are only edges — the unit
    of removal is the CONNECTED COMPONENT (A~B, B~C must collapse to one
    keeper even when A!~C). Pairs come from the exact PPJoin path
    (zero false negatives), components from the distributed large-/
    small-star kernel (operators/components.py — O(log n) rounds of
    window minimums, localCheckpointed state), keeper = min doc_id per
    component, exactly the reference's connected_component-array
    semantics (NetworkBuilder.py:229-247) re-expressed for scale. The
    oracle builds the same closure with a recursive CTE, so the iterative
    Spark kernel is differentially checked end-to-end. The corpus stage's
    fuzzy dedup runs the same chain (operators/dedup
    .near_dup_components)."""
    comp = _ppjoin_component_labels(spark, sf_dir)
    return comp.select(
        F.col("node_id").alias("doc_id"),
        "component_id",
        (F.col("node_id") == F.col("component_id")).alias("is_keeper"),
    )


@query(
    "corpus_top_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || '_' || t[i+1])) AS bigram
        FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 50
    """,
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k n-gram census (the vocabulary/boilerplate report
    corpus audits start with): per-row JVM bigram expansion (same kernel
    as doc_repetition), one count groupBy, global top-50 with a total
    order (count desc, bigram asc) so the selected SET is deterministic
    under ties. TakeOrderedAndProject keeps the global sort k-bounded —
    each partition ships only its local top-50, never a full sort, so the
    'global' ordering costs O(partitions·k) at any corpus size."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    d = d.where(F.size(toks) >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws("_", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return (
        d.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


@query(
    "doc_blocklist_hits",
    oracle="""
    SELECT doc_id,
           len(list_intersect(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> '')),
               ['slow', 'dup', 'error'])) AS n_hits
    FROM documents
    WHERE len(list_intersect(list_distinct(
              list_filter(string_split(text, ' '), x -> x <> '')),
              ['slow', 'dup', 'error'])) >= 1
    """,
)
def doc_blocklist_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening (the badwords/PII-term gate every corpus
    pipeline runs before training): flag documents containing any term
    from a curated list, reporting how many DISTINCT blocked terms hit.
    The list is a literal array column, so the whole op is JVM
    array_intersect per row — map-only, pipelines with the scan; a real
    deployment swaps the literal for a broadcast lookup at the same plan
    shape. Counting distinct terms (not occurrences) keeps the signal a
    bounded small int however long the document."""
    d = _docs(spark, sf_dir)
    toks = F.array_distinct(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    hits = F.size(F.array_intersect(toks, F.array(*[F.lit(x) for x in ("slow", "dup", "error")])))
    return d.select("doc_id", hits.alias("n_hits")).where(F.col("n_hits") >= 1)


# ---- round-7: composed corpus pipeline + audits -----------------------------

# corpus_funnel gate thresholds: the plans/corpus_pipeline.CorpusConfig
# defaults the Spark side runs with, rendered into the SQL literals below.
_CF_MIN_TOKENS = CorpusConfig().min_tokens
_CF_MAX_REP = CorpusConfig().max_rep_ratio
_CF_MIN_ENTROPY = CorpusConfig().min_entropy
_CF_BENCH_MAX_ID = 20

# Gated-corpus pipeline CTE chain shared by the funnel oracle: corpus =
# docs >= bench cutoff, quality gates, exact dedup, PPJoin+closure fuzzy
# dedup, shingle decontamination. Mirrors plans/corpus_pipeline stage for
# stage (same kernels the certified per-stage queries use).
_FUNNEL_CTES = f"""
corpus AS MATERIALIZED (
    SELECT doc_id, text FROM documents WHERE doc_id >= {_CF_BENCH_MAX_ID}
),
ctoks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM corpus),
cchars AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM corpus),
cfreq AS (
    SELECT doc_id, ch, count(*) AS c FROM cchars
    WHERE ch <> '' GROUP BY doc_id, ch
),
ctot AS (SELECT doc_id, sum(c) AS n FROM cfreq GROUP BY doc_id),
cent AS (
    SELECT f.doc_id,
           round(-sum((f.c * 1.0 / t.n) * ln(f.c * 1.0 / t.n)), 6) AS ent
    FROM cfreq f JOIN ctot t ON t.doc_id = f.doc_id
    GROUP BY f.doc_id
),
q AS MATERIALIZED (
    SELECT tk.doc_id, tk.text, tk.t FROM ctoks tk
    JOIN cent e ON e.doc_id = tk.doc_id
    WHERE len(tk.t) >= {_CF_MIN_TOKENS}
      AND round(1.0 - len(list_distinct(list_transform(range(1, len(tk.t)),
              i -> tk.t[i] || '_' || tk.t[i+1]))) * 1.0 / (len(tk.t) - 1), 6)
          <= {_CF_MAX_REP}
      AND e.ent >= {_CF_MIN_ENTROPY}
),
ex AS MATERIALIZED (
    SELECT doc_id, text, t FROM q
    WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY md5(text))
),
fdsh AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(t)-1),
                  i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS shingle
    FROM ex
),
fsizes AS (SELECT doc_id, count(*) AS nd FROM fdsh GROUP BY doc_id),
fdfq AS (SELECT shingle, count(*) AS df FROM fdsh GROUP BY shingle),
franked AS (
    SELECT d.doc_id, d.shingle, s.nd,
           row_number() OVER (
               PARTITION BY d.doc_id
               ORDER BY q2.df ASC, d.shingle ASC) AS rn
    FROM fdsh d JOIN fdfq q2 USING (shingle) JOIN fsizes s USING (doc_id)
),
fpfx AS (
    SELECT doc_id, shingle FROM franked
    WHERE rn <= nd - ceil({JACCARD_THRESHOLD} * nd) + 1
),
fcands AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM fpfx a JOIN fpfx b USING (shingle)
    WHERE a.doc_id < b.doc_id
),
finter AS (
    SELECT c.a_id, c.b_id, count(*) AS i
    FROM fcands c
    JOIN fdsh da ON da.doc_id = c.a_id
    JOIN fdsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
    GROUP BY c.a_id, c.b_id
),
fpairs AS (
    SELECT i.a_id, i.b_id
    FROM finter i
    JOIN fsizes a ON a.doc_id = i.a_id
    JOIN fsizes b ON b.doc_id = i.b_id
    WHERE round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) >= {JACCARD_THRESHOLD}
),
fedges AS (
    SELECT a_id AS src, b_id AS dst FROM fpairs
    UNION SELECT b_id, a_id FROM fpairs
),
freach(id, lbl) AS (
    SELECT src, src FROM fedges
    UNION
    SELECT e.src, r.lbl FROM freach r
    JOIN fedges e ON e.dst = r.id WHERE r.lbl < e.src
),
flosers AS (
    SELECT id FROM (SELECT id, min(lbl) AS m FROM freach GROUP BY id)
    WHERE id <> m
),
fz AS MATERIALIZED (
    SELECT doc_id, text, t FROM ex
    WHERE doc_id NOT IN (SELECT id FROM flosers)
),
zsh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(t)-1),
                  i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS shingle
    FROM fz
),
bsh AS (
    SELECT DISTINCT unnest(list_transform(range(1, len(t)-1),
                  i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS shingle
    FROM (SELECT string_split(text, ' ') AS t FROM documents
          WHERE doc_id < {_CF_BENCH_MAX_ID})
),
contam AS (
    SELECT z.doc_id FROM zsh z JOIN bsh b USING (shingle)
    GROUP BY z.doc_id HAVING count(*) >= 2
),
dc AS MATERIALIZED (
    SELECT doc_id FROM fz
    WHERE doc_id NOT IN (SELECT doc_id FROM contam)
)
"""


@query(
    "corpus_funnel",
    oracle=f"""
    WITH RECURSIVE {_FUNNEL_CTES.strip()},
    counts AS (
                  SELECT 0 AS s, 'raw' AS stage,
                         (SELECT count(*) FROM corpus) AS docs_out
        UNION ALL SELECT 1, 'quality_gate', (SELECT count(*) FROM q)
        UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM ex)
        UNION ALL SELECT 3, 'fuzzy_dedup', (SELECT count(*) FROM fz)
        UNION ALL SELECT 4, 'decontaminate', (SELECT count(*) FROM dc)
    )
    SELECT CAST(s AS INTEGER) AS stage_id, stage,
           coalesce(lag(docs_out) OVER (ORDER BY s), docs_out) AS docs_in,
           docs_out
    FROM counts
    """,
)
def corpus_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus-preparation funnel (dedup-rate report): raw ->
    Gopher quality gates -> exact dedup -> PPJoin+connected-components
    fuzzy dedup -> benchmark decontamination, one row per stage with
    docs_in/docs_out. This certifies the COMPOSED plans/corpus_pipeline
    (the staged driver mirroring the reference's NetworkBuilder chain,
    NetworkBuilder.py:264-284) — every stage kernel is individually
    certified elsewhere; this locks their composition and the survival
    accounting a corpus build publishes. Docs 0-19 stand in for the
    benchmark set (same convention as benchmark_contamination)."""
    from ..plans import corpus_pipeline as cp

    d = _docs(spark, sf_dir)
    corpus = d.where(F.col("doc_id") >= _CF_BENCH_MAX_ID)
    bench = d.where(F.col("doc_id") < _CF_BENCH_MAX_ID)
    return cp.corpus_funnel(cp.run_corpus_pipeline(corpus, bench, cp.CorpusConfig()))


@query(
    "contamination_by_source",
    oracle=f"""
    WITH {_DSH_CTE.strip()},
    bench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id < {_CF_BENCH_MAX_ID}),
    hits AS (
        SELECT d.doc_id, count(DISTINCT d.shingle) AS n_shared
        FROM dsh d JOIN bench b ON d.shingle = b.shingle
        WHERE d.doc_id >= {_CF_BENCH_MAX_ID}
        GROUP BY d.doc_id
    ),
    flagged AS (SELECT doc_id FROM hits WHERE n_shared >= 2)
    SELECT s.source,
           count(*) AS n_docs,
           count(f.doc_id) AS n_contaminated,
           round(count(f.doc_id) * 1.0 / count(*), 6) AS contam_rate
    FROM (SELECT doc_id, source FROM documents
          WHERE doc_id >= {_CF_BENCH_MAX_ID}) s
    LEFT JOIN flagged f ON f.doc_id = s.doc_id
    GROUP BY s.source
    """,
)
def contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contamination rollup — the report a decontamination run
    publishes: for each source domain, how many corpus docs share >= 2
    distinct shingles with the benchmark set and what fraction that is.
    Same broadcast-bench + linear-corpus-join shape as
    benchmark_contamination, then one groupBy on the (tiny) source key;
    the contamination rate is a ratio of exact integers, so the rounded
    float is identical IEEE arithmetic on both engines."""
    from ..operators.text import explode_shingles

    d = _docs(spark, sf_dir)
    sh = explode_shingles(d, "doc_id", "text", k=3)
    bench = sh.where(F.col("doc_id") < _CF_BENCH_MAX_ID).select("shingle").distinct()
    flagged = (
        sh.where(F.col("doc_id") >= _CF_BENCH_MAX_ID)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .select("doc_id", F.lit(1).alias("__hit"))
    )
    corpus = d.where(F.col("doc_id") >= _CF_BENCH_MAX_ID).select("doc_id", "source")
    return (
        corpus.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__hit").alias("n_contaminated"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            F.round(F.col("n_contaminated") * 1.0 / F.col("n_docs"), 6).alias(
                "contam_rate"
            ),
        )
    )


@query(
    "lsh_ppjoin_consistency",
    oracle=f"""
    WITH {_MINHASH_PIPELINE},
    sizes AS (SELECT doc_id, count(*) AS nd FROM dsh GROUP BY doc_id),
    linter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    ),
    lsh_pairs AS (
        SELECT i.a_id, i.b_id
        FROM linter i
        JOIN sizes a ON a.doc_id = i.a_id
        JOIN sizes b ON b.doc_id = i.b_id
        WHERE round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) >= {JACCARD_THRESHOLD}
    ),
    dfq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle),
    ranked AS (
        SELECT d.doc_id, d.shingle, s.nd,
               row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY q.df ASC, d.shingle ASC) AS rn
        FROM dsh d JOIN dfq q USING (shingle) JOIN sizes s USING (doc_id)
    ),
    pfx AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rn <= nd - ceil({JACCARD_THRESHOLD} * nd) + 1
    ),
    pcands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM pfx a JOIN pfx b USING (shingle)
        WHERE a.doc_id < b.doc_id
    ),
    pinter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM pcands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    ),
    exact_pairs AS (
        SELECT i.a_id, i.b_id
        FROM pinter i
        JOIN sizes a ON a.doc_id = i.a_id
        JOIN sizes b ON b.doc_id = i.b_id
        WHERE round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) >= {JACCARD_THRESHOLD}
    )
    SELECT (SELECT count(*) FROM lsh_pairs) AS n_lsh,
           (SELECT count(*) FROM exact_pairs) AS n_exact,
           (SELECT count(*) FROM lsh_pairs l
            JOIN exact_pairs e ON e.a_id = l.a_id AND e.b_id = l.b_id)
               AS n_common,
           round((SELECT count(*) FROM lsh_pairs) * 1.0
                 / (SELECT count(*) FROM exact_pairs), 6) AS lsh_recall
    """,
)
def lsh_ppjoin_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-vs-PPJoin pair-consistency audit: both candidate generators run
    over the SAME shingle table, both verified at the same Jaccard
    threshold, then the verified pair sets are compared. PPJoin is exact
    (zero false negatives), so verified-LSH is necessarily a subset and
    n_lsh / n_exact IS the measured LSH recall — the number a production
    dedup pipeline monitors when it trades exactness for banding speed.
    One-row report; both pipelines share one cached shingle frame (the
    shingle subtree feeds ~6 branches), the verified pair sets are
    localCheckpointed — eagerly materialized, lineage cut — so the cache
    can be released before returning (as near_dup_components does: no
    session-pinned storage outlives the call), and every
    count is a scalar agg crossJoined back (no driver-side counts)."""
    from ..operators.dedup import prefix_filter_candidates

    shingled = _shingled(spark, sf_dir).cache()
    lsh_cands = lsh_candidate_pairs(
        lsh_bands(
            minhash_signatures(shingled, "doc_id", n_hashes=N_HASHES),
            "doc_id",
            N_HASHES,
            BAND_SIZE,
        ),
        "doc_id",
    )
    lsh_pairs = _materialize_release(
        jaccard_verify(
            lsh_cands, shingled, "doc_id", threshold=JACCARD_THRESHOLD
        ).select("a_id", "b_id")
    )
    exact_cands = prefix_filter_candidates(
        shingled, "doc_id", threshold=JACCARD_THRESHOLD
    )
    exact_pairs = _materialize_release(
        jaccard_verify(
            exact_cands, shingled, "doc_id", threshold=JACCARD_THRESHOLD
        ).select("a_id", "b_id"),
        shingled,
    )
    nl = lsh_pairs.agg(F.count(F.lit(1)).alias("n_lsh"))
    ne = exact_pairs.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = (
        lsh_pairs.join(exact_pairs, ["a_id", "b_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        nl.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_lsh",
            "n_exact",
            "n_common",
            F.round(F.col("n_lsh") * 1.0 / F.col("n_exact"), 6).alias(
                "lsh_recall"
            ),
        )
    )


@query(
    "doc_length_zscore",
    oracle="""
    WITH stats AS (
        SELECT source,
               count(*) AS n,
               sum(n_chars) AS s1,
               sum(n_chars * n_chars) AS s2
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           round((d.n_chars - s.s1 * 1.0 / s.n)
                 / sqrt((s.s2 - s.s1 * 1.0 * s.s1 / s.n) / (s.n - 1)), 6)
               AS len_z
    FROM documents d JOIN stats s ON s.source = d.source
    WHERE s.n > 1
    """,
)
def doc_length_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain length standardization (outlier-score precursor to the
    quantile gates): z-score of n_chars within each source. The group
    moments are EXACT integer sums (n, sum, sum-of-squares) aggregated in
    one pass and broadcast back, so the fact never shuffles (same shape as
    value_minmax_scaled) — and because both engines derive mean/variance
    from the same exact integers with the same IEEE expression, the
    rounded z-scores are bit-identical (no engine-specific Welford
    drift, which is why this does NOT use stddev_samp())."""
    d = _docs(spark, sf_dir)
    stats = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("n_chars").alias("__s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("__s2"),
    )
    joined = d.select("doc_id", "source", "n_chars").join(
        F.broadcast(stats.where(F.col("__n") > 1)), "source"
    )
    mean = F.col("__s1") * 1.0 / F.col("__n")
    var = (
        F.col("__s2") - F.col("__s1") * 1.0 * F.col("__s1") / F.col("__n")
    ) / (F.col("__n") - 1)
    return joined.select(
        "doc_id",
        "source",
        "n_chars",
        F.round((F.col("n_chars") - mean) / F.sqrt(var), 6).alias("len_z"),
    )


@query(
    "lang_source_matrix",
    oracle="""
    SELECT source,
           CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
           CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
           CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
           CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
    FROM documents GROUP BY source
    """,
)
def lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language × domain census matrix (the corpus-mix report a data-mixture
    design starts from): pivot the lang column into counts per source.
    Spark's pivot with an EXPLICIT value list compiles to plain conditional
    aggregates — one shuffle on source, no second distinct-values job, and
    the same plan shape at any corpus size (the value list is the schema
    contract, not data-dependent)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .pivot("lang", ["de", "en", "es", "fr", "zh"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["de", "en", "es", "fr", "zh"])
    )


@query(
    "doc_shingle_novelty",
    oracle=f"""
    WITH {_DSH_CTE.strip()},
    dfq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle)
    SELECT d.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN q.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           round(sum(CASE WHEN q.df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*),
                 6) AS novelty
    FROM dsh d JOIN dfq q USING (shingle)
    GROUP BY d.doc_id
    """,
)
def doc_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty score: the fraction of a doc's 3-gram shingles
    that occur NOWHERE else in the corpus — the dedup-diagnostics dual of
    the duplication reports (low novelty = templated/boilerplate, high =
    fresh content; data-mixture builders upweight the latter). Document
    frequency attaches as a window count over the shingle partition (no
    vocabulary broadcast — same scale argument as tfidf), then one
    per-doc aggregate; novelty is a ratio of exact integers."""
    from pyspark.sql import Window

    sh = _shingled(spark, sf_dir)
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("__df", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias(
                "n_unique"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(
                F.col("n_unique") * 1.0 / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


@query(
    "minhash_band_load",
    oracle=f"""
    WITH {_MINHASH_PIPELINE},
    buckets AS (
        SELECT band_idx, band_hash, count(*) AS bucket_size
        FROM bands GROUP BY band_idx, band_hash
    )
    SELECT band_idx, bucket_size, count(*) AS n_buckets
    FROM buckets GROUP BY band_idx, bucket_size
    """,
)
def minhash_band_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket occupancy histogram — the skew audit a production
    LSH deployment monitors: a hot bucket (many docs hashing to one band
    value) makes the candidate join quadratic in that bucket, which is the
    failure mode banding exists to avoid. Two narrow count aggregates over
    the band table; (band_idx, bucket_size) is the unique row key, every
    value an exact integer."""
    bands = lsh_bands(_sigs(spark, sf_dir), "doc_id", N_HASHES, BAND_SIZE)
    return (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("band_idx", "bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )


@query(
    "language_confusion_matrix",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
           {_LANG_SCORES_SQL}
        FROM documents
    ),
    p AS (SELECT doc_id, lang, {_lang_case_sql()} AS pred_lang FROM s)
    SELECT lang, pred_lang, count(*) AS n
    FROM p GROUP BY lang, pred_lang
    """,
)
def language_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labelled lang × predicted lang counts
    — the evaluation rollup for the trigram classifier (doc_language_id
    certifies the per-doc scores; this certifies the aggregated quality
    report a corpus audit publishes). Map-only scoring then one count
    groupBy on a 5×5 key space; (lang, pred_lang) is the unique key."""
    from ..operators.text import language_id_scores

    docs = _docs(spark, sf_dir)
    scored = language_id_scores(
        docs.select("doc_id", "lang", "text"), "doc_id", "text", LANG_PROFILES
    )
    return (
        docs.select("doc_id", "lang")
        .join(scored.select("doc_id", "pred_lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "source_quality_profile",
    oracle="""
    WITH t AS (
        SELECT source, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           round(sum(n_chars) * 1.0 / count(*), 6) AS avg_chars,
           round(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS short_frac,
           round(sum(n_distinct) * 1.0 / sum(n_tokens), 6) AS vocab_rate
    FROM t GROUP BY source
    """,
)
def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality profile (the source-mix scorecard): doc count,
    mean length, short-doc fraction, micro-averaged vocabulary rate
    (sum distinct / sum tokens — deliberately a ratio of exact integer
    SUMS, not an average of per-doc doubles, so the float result is one
    identical IEEE division on both engines with no summation-order
    drift). One map-only token pass + one groupBy on the 20-value source
    key."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "source",
        "n_chars",
        F.size(toks).alias("__nt"),
        F.size(F.array_distinct(toks)).alias("__nd"),
    )
    n = F.count(F.lit(1))
    return base.groupBy("source").agg(
        n.alias("n_docs"),
        F.round(F.sum("n_chars") * 1.0 / n, 6).alias("avg_chars"),
        F.round(
            F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)) * 1.0 / n, 6
        ).alias("short_frac"),
        F.round(F.sum("__nd") * 1.0 / F.sum("__nt"), 6).alias("vocab_rate"),
    )


@query(
    "token_zipf_head",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
        SELECT token, count(*) AS n FROM toks
        WHERE token <> '' GROUP BY token
    )
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
               AS rank
    FROM counts
    ORDER BY n DESC, token ASC LIMIT 100
    """,
)
def token_zipf_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head: the corpus's 100 most frequent tokens with their rank —
    the unigram census complementing corpus_top_bigrams (vocabulary
    audits read the head for boilerplate and the tail for noise). One
    token-count shuffle, then the k-cut FIRST (orderBy+limit compiles to
    TakeOrderedAndProject — each partition ships only its local top-100,
    never a full sort) and the rank window only over the surviving 100
    rows; ranking before cutting would single-partition the whole
    vocabulary, which is exactly the shape this avoids. (count DESC,
    token ASC) is a total order, so the cut set and ranks are
    deterministic."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    head = counts.orderBy(F.desc("n"), F.asc("token")).limit(100)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return head.withColumn("rank", F.row_number().over(w).cast("bigint"))


@query(
    "chunk_position_dup_rate",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
               md5(array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ')) AS h
        FROM toks,
             unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)
        WHERE len(t) > 0
    ),
    occ AS (SELECT h, count(*) AS c FROM chunks GROUP BY h)
    SELECT k.chunk_idx,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN o.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_duplicated,
           round(sum(CASE WHEN o.c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*),
                 6) AS dup_rate
    FROM chunks k JOIN occ o ON o.h = k.h
    GROUP BY k.chunk_idx
    """,
)
def chunk_position_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate BY CHUNK POSITION — the boilerplate locator:
    headers/footers duplicate at fixed offsets (position 0 spikes =
    shared preambles), which whole-document and even flat chunk dedup
    reports can't localize. Same 8-token tumbling chunks as
    chunk_dup_report (JVM array slicing via posexplode, no UDF);
    occurrence counts attach as a window over the chunk-hash partition
    (no hash-table broadcast), then one per-position rollup. chunk_idx
    is the unique key; the rate is a ratio of exact integers."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    d = d.where(F.size(toks) > 0)
    n_chunks = F.ceil(F.size(toks) / 8.0).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)).cast("binary")),
    )
    chunks = d.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "h")
    ).select(F.col("chunk_idx").cast("bigint").alias("chunk_idx"), "h")
    w = Window.partitionBy("h")
    dup = F.when(F.count(F.lit(1)).over(w) > 1, 1).otherwise(0)
    flagged = chunks.select("chunk_idx", dup.alias("__dup"))
    n = F.count(F.lit(1))
    return flagged.groupBy("chunk_idx").agg(
        n.alias("n_chunks"),
        F.sum("__dup").cast("bigint").alias("n_duplicated"),
        F.round(F.sum("__dup") * 1.0 / n, 6).alias("dup_rate"),
    )


@query(
    "doc_quality_grid",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               string_split(text, ' ') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               CAST(floor(len(t) / 20.0) AS BIGINT) AS token_band,
               CAST(floor((1.0 - len(list_distinct(list_transform(
                        range(1, len(t)), i -> t[i] || '_' || t[i+1])))
                        * 1.0 / (len(t) - 1)) * 20.0) AS BIGINT) AS rep_band
        FROM m WHERE len(t) >= 2
    )
    SELECT token_band, rep_band, count(*) AS n_docs
    FROM g GROUP BY token_band, rep_band
    """,
)
def doc_quality_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D quality scatter grid: token-length band × bigram-repetition
    band, the corpus-triage heatmap (where do the gates actually bite?).
    Both band inputs are exact on both engines — length is an integer and
    the repetition ratio is one identical IEEE expression over integers —
    so the floor banding cannot straddle; map-only then one tiny-key
    groupBy. (token_band, rep_band) is the unique key."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    d = d.where(F.size(toks) >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws("_", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    rep = (
        1.0
        - F.size(F.array_distinct(grams)) * 1.0 / (F.size(toks) - 1)
    )
    return (
        d.select(
            F.floor(F.size(toks) / 20.0).cast("bigint").alias("token_band"),
            F.floor(rep * 20.0).cast("bigint").alias("rep_band"),
        )
        .groupBy("token_band", "rep_band")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# PPJoin-pairs -> recursive-reachability connected components, shared by
# every cluster-level oracle (chains after _DSH_CTE under WITH RECURSIVE;
# `comp` maps each clustered doc_id `id` to its component label `m` = the
# component's min doc_id — the label operators/dedup.near_dup_components
# returns on the Spark side, by a different closure algorithm).
_CC_COMP_CTES = f"""
    sizes AS (SELECT doc_id, count(*) AS nd FROM dsh GROUP BY doc_id),
    dfq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle),
    ranked AS (
        SELECT d.doc_id, d.shingle, s.nd,
               row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY q.df ASC, d.shingle ASC) AS rn
        FROM dsh d JOIN dfq q USING (shingle) JOIN sizes s USING (doc_id)
    ),
    pfx AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rn <= nd - ceil({JACCARD_THRESHOLD} * nd) + 1
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM pfx a JOIN pfx b USING (shingle)
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    ),
    pairs AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes a ON a.doc_id = i.a_id
        JOIN sizes b ON b.doc_id = i.b_id
        WHERE round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION SELECT b_id, a_id FROM pairs
    ),
    reach(id, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM reach r
        JOIN edges e ON e.dst = r.id WHERE r.lbl < e.src
    ),
    comp AS (SELECT id, min(lbl) AS m FROM reach GROUP BY id)
""".strip()


@query(
    "near_dup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_DSH_CTE.strip()},
    {_CC_COMP_CTES},
    csz AS (SELECT m, count(*) AS sz FROM comp GROUP BY m)
    SELECT sz AS cluster_size, count(*) AS n_clusters
    FROM csz GROUP BY sz
    """,
)
def near_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER-SIZE distribution — the report that tells a
    dedup run whether it is removing scattered pairs or collapsing a few
    giant template families (the long tail here decides the dedup
    budget). Same PPJoin -> connected-components chain as
    fuzzy_dedup_components, then component sizes histogrammed; the oracle
    rebuilds the closure with a recursive CTE. Only documents appearing
    in at least one near-dup pair form clusters (singletons are not
    clusters), identically on both sides."""
    comp = _ppjoin_component_labels(spark, sf_dir)
    return (
        comp.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


# Target mixture for source_mix_weights: a flat 5% per domain (the
# data-mixture design input; literal on both engines).
_MIX_TARGET = 0.05


@query(
    "source_mix_weights",
    oracle=f"""
    WITH actual AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM actual)
    SELECT a.source, a.n_docs,
           round(a.n_docs * 1.0 / t.n, 6) AS actual_frac,
           CAST({_MIX_TARGET} AS DOUBLE) AS target_frac,
           round(CAST({_MIX_TARGET} AS DOUBLE) * t.n / a.n_docs, 6)
               AS sample_weight
    FROM actual a CROSS JOIN tot t
    """,
)
def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture design table: per-domain actual share vs target share
    and the resampling weight (target/actual) an interleaved loader
    applies — the planning step between the corpus census and the
    sampler (weighted_doc_sample consumes exactly these weights). One
    count groupBy + a scalar-agg crossJoin for the total; every float is
    one exact-integer division."""
    d = _docs(spark, sf_dir)
    actual = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = actual.agg(F.sum("n_docs").cast("bigint").alias("n"))
    return actual.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") * 1.0 / F.col("n"), 6).alias("actual_frac"),
        F.lit(_MIX_TARGET).alias("target_frac"),
        F.round(F.lit(_MIX_TARGET) * F.col("n") / F.col("n_docs"), 6).alias(
            "sample_weight"
        ),
    )


@query(
    "dedup_bytes_by_source",
    oracle="""
    WITH k AS (
        SELECT source, doc_id, n_chars,
               min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM documents
    )
    SELECT source,
           CAST(sum(n_chars) AS BIGINT) AS total_bytes,
           CAST(sum(CASE WHEN doc_id <> keeper THEN n_chars ELSE 0 END)
                AS BIGINT) AS dup_bytes,
           round(sum(CASE WHEN doc_id <> keeper THEN n_chars ELSE 0 END)
                 * 1.0 / sum(n_chars), 6) AS dup_byte_frac
    FROM k GROUP BY source
    """,
)
def dedup_bytes_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup savings per domain in BYTES (storage/compute planning
    reads bytes, not doc counts — one fat duplicate outweighs many short
    ones): keeper = min doc id per content digest via a window over the
    digest partition, then per-source byte sums. One digest shuffle, one
    small-key rollup; fractions are ratios of exact integer sums."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    k = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.min("doc_id").over(w).alias("__keeper"),
    )
    dup = F.when(F.col("doc_id") != F.col("__keeper"), F.col("n_chars")).otherwise(0)
    return k.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("total_bytes"),
        F.sum(dup).cast("bigint").alias("dup_bytes"),
        F.round(F.sum(dup) * 1.0 / F.sum("n_chars"), 6).alias(
            "dup_byte_frac"
        ),
    )


@query(
    "token_len_distribution",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT CAST(length(tok) AS BIGINT) AS token_len, count(*) AS n_tokens
    FROM toks WHERE tok <> ''
    GROUP BY token_len
    """,
)
def token_len_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (characters per token) — the corpus statistic
    a tokenizer/BPE budget is designed against (mean token length drives
    the chars-per-token compression ratio). Explode + length + one
    tiny-key count groupBy; all integers."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .select(F.length("tok").cast("bigint").alias("token_len"))
        .groupBy("token_len")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )


def _lang_term_sql(c: str) -> str:
    return (
        f"CASE WHEN {c} = 0 THEN 0.0 "
        f"ELSE ({c} * 1.0 / n) * ln({c} * 1.0 / n) END"
    )


@query(
    "source_lang_diversity",
    oracle=f"""
    WITH c AS (
        SELECT source,
               CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
               CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
               CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
               CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh,
               count(*) AS n
        FROM documents GROUP BY source
    )
    SELECT source, n,
           round(-({_lang_term_sql('c_de')} + {_lang_term_sql('c_en')}
                   + {_lang_term_sql('c_es')} + {_lang_term_sql('c_fr')}
                   + {_lang_term_sql('c_zh')}), 6) AS lang_entropy
    FROM c
    """,
)
def source_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language diversity (Shannon entropy) per source — the mixture-
    balance scorecard. Determinism note: a grouped SUM over per-lang
    entropy terms would accumulate floats in engine-dependent order; here
    the 5 language counts pivot to COLUMNS (conditional integer sums)
    and the entropy is ONE fixed left-to-right expression over them —
    identical IEEE evaluation on both engines, no summation-order drift.
    One conditional-sum groupBy, map-only after."""
    d = _docs(spark, sf_dir)
    aggs = [
        F.sum(F.when(F.col("lang") == L, 1).otherwise(0))
        .cast("bigint")
        .alias(f"c_{L}")
        for L in ("de", "en", "es", "fr", "zh")
    ]
    c = d.groupBy("source").agg(*aggs, F.count(F.lit(1)).alias("n"))
    n = F.col("n")

    def term(L: str):
        cc = F.col(f"c_{L}")
        p = cc * 1.0 / n
        return F.when(cc == 0, 0.0).otherwise(p * F.log(p))

    ent = -(
        term("de") + term("en") + term("es") + term("fr") + term("zh")
    )
    return c.select("source", "n", F.round(ent, 6).alias("lang_entropy"))


@query(
    "shingle_df_histogram",
    oracle=f"""
    WITH {_DSH_CTE.strip()},
    dfq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle)
    SELECT df, count(*) AS n_shingles
    FROM dfq GROUP BY df
    """,
)
def shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram — the 'how deduplicable is
    this corpus' profile (mass at df=1 means mostly-unique content; a
    long df tail means template families) and the input to the PPJoin
    rarity-prefix design. Two narrow count aggregates over the shingle
    table; all integers, df is the unique key."""
    sh = _shingled(spark, sf_dir)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy("df")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )


@query(
    "doc_hapax_ratio",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(list_distinct(toks),
               u -> len(list_filter(toks, x -> x = u)) = 1)) AS n_hapax,
           round(len(list_filter(list_distinct(toks),
                 u -> len(list_filter(toks, x -> x = u)) = 1)) * 1.0
                 / len(toks), 6) AS hapax_ratio
    FROM t WHERE len(toks) > 0
    """,
)
def doc_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document hapax legomenon ratio (tokens occurring exactly
    once in THEIR OWN document / total tokens) — the lexical-richness
    statistic next to uniq_ratio (which can't distinguish 'every token
    twice' from 'half the tokens once'); low hapax share flags loop-y
    generation. Per-row array arithmetic over (distinct × occurrences) —
    map-only, no shuffle, no UDF; the ratio is exact integers."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    hapax = F.size(
        F.filter(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)) == 1,
        )
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        hapax.alias("n_hapax"),
        F.round(hapax * 1.0 / F.size(toks), 6).alias("hapax_ratio"),
    ).where(F.col("n_tokens") > 0)


@query(
    "cross_source_chunk_leakage",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    chunks AS (
        SELECT DISTINCT source,
               md5(array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ')) AS h
        FROM toks,
             unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared_chunks
    FROM chunks a JOIN chunks b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def cross_source_chunk_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source boilerplate leakage matrix — for every source pair,
    how many distinct 8-token chunks appear in BOTH (the signal that two
    crawls/feeds share templates or syndicated text, which whole-document
    and within-source dedup both miss). Chunking is the same JVM
    sequence+slice arithmetic as chunk_dup_report; the pair detection is
    an equi-join on the chunk DIGEST over the distinct (chunk, source)
    table — hash-partitioned by digest, never a text comparison, and the
    output key space is |sources|^2. At 100 TB the distinct table is the
    dedup table the pipeline already maintains; the leakage report is one
    extra self-join over it."""
    cs = (
        _doc_chunks(_docs(spark, sf_dir))
        .select("source", F.md5(F.col("chunk").cast("binary")).alias("h"))
        .distinct()
    )
    a = cs.alias("a")
    b = cs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
    )


@query(
    "packing_fill_report",
    oracle="""
    WITH counted AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (
                   ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM counted
    )
    SELECT CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           round(CAST(sum(n_tokens) AS BIGINT) / 512.0, 6) AS fill_ratio
    FROM packed
    GROUP BY CAST((cum - n_tokens) // 512 AS BIGINT)
    """,
)
def packing_fill_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over doc_pack_bins' assignment: per bin,
    the document count, token load, and fill ratio against the 512-token
    budget (ratios > 1 mark bins whose last document straddles the
    boundary — the padding-vs-truncation tradeoff a training pipeline
    tunes). Same single running-sum window as the packer (global by
    design; per-shard partitionBy at scale), then a bin_id groupBy that
    map-side-combines to n_bins rows. Reuses doc_pack_bins — the
    certified packer IS the report's input plan."""
    packed = doc_pack_bins(spark, sf_dir)
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.round(F.sum("n_tokens") / 512.0, 6).alias("fill_ratio"),
    )


@query(
    "per_source_doc_sample",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def per_source_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample — exactly 3 documents per source,
    chosen by md5(doc_id) order (a seedless, engine-portable shuffle):
    the 'pull N examples from every stratum for inspection' op that a
    rand()-based sample can't certify cross-engine. One window shuffle
    keyed by source; rank<=3 prunes inside the window operator, so the
    output is |sources| x 3 however large the corpus. Mega-stratum skew
    at 100 TB: the hash order means any per-partition top-3 pre-prune
    (groupBy source + min_by struct top-k) yields the identical rows if
    a single source ever overwhelms one window partition."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


# ---- round-7 tail 2: sketch calibration, containment, index, LM ------------


def _lsh_pair_stats(spark: SparkSession, sf_dir: str):
    """Shared kernel for the pairwise shingle-set audits: LSH candidate
    pairs with their exact intersection and set sizes — (stats, sigs,
    cands, caches) where stats = (a_id, b_id, inter, na, nb) restricted
    to inter >= 1 (the EXACT integer gate, mirroring the oracles' inner
    intersection join — a rounded-float gate would diverge on pairs whose
    Jaccard rounds to 0.000000 at huge union sizes). Shingle sets gather
    once per candidate doc; shuffle_hash pinned for the same
    size-misestimate reason as jaccard_verify. Callers must unpersist the
    returned caches after materializing their result."""
    sh = _shingled(spark, sf_dir).cache()
    sigs = minhash_signatures(sh, "doc_id", n_hashes=N_HASHES)
    bands = lsh_bands(sigs, "doc_id", N_HASHES, BAND_SIZE)
    cands = lsh_candidate_pairs(bands, "doc_id").cache()
    cand_ids = (
        cands.select(F.col("a_id").alias("doc_id"))
        .union(cands.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sets = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("__set"))
    )
    sa = sets.select(F.col("doc_id").alias("a_id"), F.col("__set").alias("__sa"))
    sb = sets.select(F.col("doc_id").alias("b_id"), F.col("__set").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    stats = (
        cands.join(sa.hint("shuffle_hash"), "a_id")
        .join(sb.hint("shuffle_hash"), "b_id")
        .select(
            "a_id",
            "b_id",
            inter.alias("inter"),
            F.size("__sa").alias("na"),
            F.size("__sb").alias("nb"),
        )
        .where(F.col("inter") >= 1)
    )
    return stats, sigs, cands, (sh, cands)


@query(
    "minhash_jaccard_calibration",
    oracle=f"""
    WITH {_MINHASH_PIPELINE},
    na AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    ),
    est AS (
        SELECT c.a_id, c.b_id,
               ({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))})
                   / {N_HASHES}.0 AS e
        FROM cands c
        JOIN sigs sa ON sa.doc_id = c.a_id
        JOIN sigs sb ON sb.doc_id = c.b_id
    )
    SELECT i.a_id, i.b_id,
           round(e.e, 6) AS est_jaccard,
           round(i.i * 1.0 / (a.n + b.n - i.i), 6) AS exact_jaccard,
           round(abs(round(e.e, 6)
                     - round(i.i * 1.0 / (a.n + b.n - i.i), 6)), 6) AS abs_err
    FROM inter i
    JOIN na a ON a.doc_id = i.a_id
    JOIN na b ON b.doc_id = i.b_id
    JOIN est e ON e.a_id = i.a_id AND e.b_id = i.b_id
    """,
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration audit: for every LSH candidate pair, the MinHash
    ESTIMATE of Jaccard (matching signature components / 16 — an exact
    binary fraction, so no float hazard) against the EXACT shingle Jaccard,
    with the absolute error. This is the measurement that justifies the
    sketch parameters (16 hashes, 4x4 bands) before a 100 TB run commits
    to them: systematic error here means re-sizing the signature, not
    debugging dedup output. Both sides are candidate-bounded joins (LSH
    keeps it non-quadratic); the signature comparison is 16 integer
    equality tests per pair. Zero-intersection band-collision pairs are
    excluded on both engines by the exact integer inter >= 1 gate
    (_lsh_pair_stats), never a rounded-float comparison."""
    stats, sigs, cands, caches = _lsh_pair_stats(spark, sf_dir)
    matches = sum(
        F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = (
        cands.join(sigs.alias("sa"), F.col("sa.doc_id") == F.col("a_id"))
        .join(sigs.alias("sb"), F.col("sb.doc_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(matches / float(N_HASHES), 6).alias("est_jaccard"),
        )
    )
    exact_j = F.round(
        F.col("inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("inter")),
        6,
    )
    out = stats.join(est, ["a_id", "b_id"]).select(
        "a_id",
        "b_id",
        "est_jaccard",
        exact_j.alias("exact_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - exact_j), 6).alias("abs_err"),
    )
    return _materialize_release(out, *caches)


CONTAINMENT_THRESHOLD = 0.5


@query(
    "shingle_containment_pairs",
    oracle=f"""
    WITH {_MINHASH_PIPELINE},
    na AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    )
    SELECT i.a_id, i.b_id,
           round(i.i * 1.0 / least(a.n, b.n), 6) AS containment
    FROM inter i
    JOIN na a ON a.doc_id = i.a_id
    JOIN na b ON b.doc_id = i.b_id
    WHERE round(i.i * 1.0 / least(a.n, b.n), 6) >= {CONTAINMENT_THRESHOLD}
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment = |A∩B| / min(|A|,|B|)
    over distinct 3-gram shingle sets, at 0.5 — catches a short document
    embedded inside a long one (quotes, concatenated crawls, boilerplate
    wrappers), which symmetric Jaccard dilutes below any usable threshold.
    Candidates come from the same LSH banding as near_dup_pairs via the
    shared _lsh_pair_stats kernel (one shingle-set gather, array_intersect
    per pair), and the score is a ratio of exact integers — same scale
    shape as jaccard_verify, different decision rule."""
    stats, _, _, caches = _lsh_pair_stats(spark, sf_dir)
    cont = F.round(
        F.col("inter").cast("double") / F.least(F.col("na"), F.col("nb")), 6
    )
    out = (
        stats.select("a_id", "b_id", cont.alias("containment"))
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )
    return _materialize_release(out, *caches)



POSTING_MIN_DF = 3
POSTING_HEAD_K = 40
POSTINGS_PER_TERM = 8


@query(
    "posting_list_heads",
    oracle=f"""
    WITH td AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ),
    pl AS (
        SELECT term,
               count(*) AS df,
               array_to_string(
                   list_transform(list_sort(list(doc_id))[1:{POSTINGS_PER_TERM}],
                                  x -> CAST(x AS VARCHAR)), ',') AS postings
        FROM td GROUP BY term
    )
    SELECT term, df, postings
    FROM pl WHERE df >= {POSTING_MIN_DF}
    ORDER BY df DESC, term ASC LIMIT {POSTING_HEAD_K}
    """,
)
def posting_list_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the retrieval-side primitive of a
    corpus platform): term -> document frequency + the first
    {POSTINGS_PER_TERM} postings in doc_id order, for the
    {POSTING_HEAD_K} highest-df terms. One distinct (doc, term) pass,
    one term-keyed aggregate (collect_set is bounded per term here by the
    slice; a full-index build at 100 TB shards postings by (term,
    doc_id_range) instead of materializing unbounded lists — documented
    swap), then a k-bounded TakeOrderedAndProject. CSV-string postings
    keep the differential hash engine-neutral."""
    d = _docs(spark, sf_dir)
    # per-row array_distinct IS the (doc, term) dedup — doc_id is unique
    # per input row, so a trailing .distinct() would only re-shuffle the
    # corpus-sized exploded table for nothing
    td = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            )
        ).alias("term"),
    )
    pl = td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, POSTINGS_PER_TERM),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return (
        pl.where(F.col("df") >= POSTING_MIN_DF)
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(POSTING_HEAD_K)
    )


@query(
    "bigram_surprisal",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
        FROM toks WHERE len(t) >= 2
    ),
    occ AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM occ GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY w1),
    vocab AS (
        SELECT count(DISTINCT tok) AS v FROM (
            SELECT unnest(t) AS tok FROM toks
        )
    ),
    scored AS (
        SELECT o.doc_id,
               CAST(round(ln((c1.c1 + vocab.v) * 1.0 / (c2.c2 + 1)) * 1e9)
                    AS BIGINT) AS nano
        FROM occ o
        JOIN c2 ON c2.w1 = o.w1 AND c2.w2 = o.w2
        JOIN c1 ON c1.w1 = o.w1
        CROSS JOIN vocab
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(sum(nano) / (count(*) * 1e9), 6) AS mean_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality signal: per-document mean SURPRISAL
    under an add-one-smoothed bigram language model fitted on the corpus
    itself — low surprisal marks templated/repetitive text, high marks
    rare-vocabulary or shuffled content; mixture builders gate on both
    tails. p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V); surprisal = ln of the
    reciprocal, which is >= 0 (c1 >= c2, V >= 1), so both engines round
    identically. Determinism: each term quantizes to integer nanos BEFORE
    the per-doc sum (quantize-then-accumulate, DETERMINISM.md) so the
    aggregation order can't perturb the float total; the single ln sits on
    a correctly-rounded integer ratio and the 1e-9 quantum swallows its
    <=1-ulp cross-engine spread. Plan shape: one bigram explode, two
    model aggregates (bigram- and unigram-keyed, map-side combined), the
    vocab size folded in as a scalar-agg cross join (never an eager
    count()), then shuffle joins occurrences->model on the bigram key —
    model tables are corpus-vocabulary-sized, so they shuffle rather than
    broadcast at 100 TB (the small-input profile broadcasts them at bench
    SF — same declarative plan, threshold-driven choice). The bigram
    explode subtree is referenced three times (occurrences + both model
    aggregates); a 100 TB run stages it to parquet once (the corpus
    pipeline's materialization discipline) instead of re-exploding —
    deliberately NOT a session-pinned cache here. Docs under 2 tokens
    have no bigrams and drop on both engines."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("t"),
    )
    bg = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        toks.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    nano = F.round(
        F.log((F.col("c1") + F.col("v")) / (F.col("c2") + F.lit(1))) * 1e9
    ).cast("long")
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nano.alias("nano"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("nano") / (F.count(F.lit(1)) * 1e9), 6).alias(
                "mean_surprisal"
            ),
        )
    )


@query(
    "quality_signal_correlation",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    rep AS (
        SELECT doc_id, len(t) AS n_tokens,
               CAST(round(round(1.0 - len(list_distinct(
                        list_transform(range(1, len(t)),
                            i -> t[i] || '_' || t[i+1]))) * 1.0
                        / (len(t) - 1), 6) * 1e6) AS BIGINT) AS rep6
        FROM toks WHERE len(t) >= 2
    ),
    cchars AS (
        SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
        FROM documents
    ),
    cfreq AS (
        SELECT doc_id, ch, count(*) AS c FROM cchars
        WHERE ch <> '' GROUP BY doc_id, ch
    ),
    ctot AS (SELECT doc_id, sum(c) AS n FROM cfreq GROUP BY doc_id),
    ent AS (
        SELECT f.doc_id,
               CAST(round(round(-sum((f.c * 1.0 / t.n)
                                     * ln(f.c * 1.0 / t.n)), 6) * 1e6)
                    AS BIGINT) AS ent6
        FROM cfreq f JOIN ctot t ON t.doc_id = f.doc_id
        GROUP BY f.doc_id
    ),
    sig AS (
        SELECT r.doc_id, r.n_tokens AS x, e.ent6 AS y, r.rep6 AS z
        FROM rep r JOIN ent e ON e.doc_id = r.doc_id
    ),
    m AS (
        SELECT count(*) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
               sum(x*y) AS sxy, sum(x*z) AS sxz, sum(y*z) AS syz,
               sum(x*x) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz
        FROM sig
    )
    SELECT * FROM (
                  SELECT 'n_tokens' AS signal_a, 'entropy' AS signal_b,
                         CAST(n AS BIGINT) AS n_docs,
                         round(CAST(n*sxy - sx*sy AS DOUBLE)
                               / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                                  * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)
                             AS pearson_r
                  FROM m
        UNION ALL SELECT 'n_tokens', 'rep_ratio', CAST(n AS BIGINT),
                         round(CAST(n*sxz - sx*sz AS DOUBLE)
                               / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                                  * sqrt(CAST(n*szz - sz*sz AS DOUBLE))), 6)
                  FROM m
        UNION ALL SELECT 'entropy', 'rep_ratio', CAST(n AS BIGINT),
                         round(CAST(n*syz - sy*sz AS DOUBLE)
                               / (sqrt(CAST(n*syy - sy*sy AS DOUBLE))
                                  * sqrt(CAST(n*szz - sz*sz AS DOUBLE))), 6)
                  FROM m
    )
    """,
)
def quality_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redundancy audit of the quality-gate signals: the Pearson
    correlation matrix between token count, character entropy, and
    bigram repetition across the corpus — highly correlated signals are
    redundant gates (a mixture builder keeps one), anti-correlated ones
    carve different corners. Determinism: each float signal is first
    ROUNDED to its certified 6-dp form (the exact values
    doc_char_entropy / doc_repetition publish), then quantized to
    integer micro-units, so the correlation runs on exact integers —
    moment sums and their products in DECIMAL(38,0) (the
    products-of-sums overflow lesson from colocation_assortativity;
    DuckDB's HUGEINT is exact natively) with ONE identical double
    expression per pair at the end. Plan: one map-only signal
    projection, one 10-accumulator scalar aggregate, a 3-row stack —
    the whole corpus reduces to one row however large it is."""
    from ..operators.text import bigram_repetition_ratio, char_entropy_nats

    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    sig = d.where(F.size(toks) >= 2).select(
        F.size(toks).cast("long").alias("x"),
        F.round(char_entropy_nats(F.col("text")) * 1e6)
        .cast("long")
        .alias("y"),
        F.round(bigram_repetition_ratio(toks) * 1e6).cast("long").alias("z"),
    )
    dec = "decimal(38,0)"
    m = sig.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("z").cast(dec)).alias("sz"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("z")).cast(dec)).alias("sxz"),
        F.sum((F.col("y") * F.col("z")).cast(dec)).alias("syz"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("z") * F.col("z")).cast(dec)).alias("szz"),
    )

    def _r(sab: str, sa: str, sb: str, saa: str, sbb: str):
        num = (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
        da = F.sqrt((F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast("double"))
        db = F.sqrt((F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double"))
        return F.round(num / (da * db), 6)

    pairs = [
        ("n_tokens", "entropy", _r("sxy", "sx", "sy", "sxx", "syy")),
        ("n_tokens", "rep_ratio", _r("sxz", "sx", "sz", "sxx", "szz")),
        ("entropy", "rep_ratio", _r("syz", "sy", "sz", "syy", "szz")),
    ]
    # one explode over an array of structs, NOT a 3-way union of the same
    # aggregate — the union form re-derives the corpus-wide aggregate per
    # branch (3 scans at 100 TB); this is the stack() idiom check_rules uses
    structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("signal_a"),
                F.lit(b).alias("signal_b"),
                F.col("n").cast("bigint").alias("n_docs"),
                r.alias("pearson_r"),
            )
            for a, b, r in pairs
        ]
    )
    return m.select(F.explode(structs).alias("s")).select("s.*")


@query(
    "corpus_growth_curve",
    oracle=f"""
    WITH {_DSH_CTE.strip()},
    firsts AS (
        SELECT shingle, min(doc_id) AS first_doc FROM dsh GROUP BY shingle
    ),
    news AS (
        SELECT first_doc AS doc_id, count(*) AS n_new
        FROM firsts GROUP BY first_doc
    )
    SELECT doc_id, n_new,
           CAST(sum(n_new) OVER (
               ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_vocab
    FROM news
    """,
)
def corpus_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: per document (in doc_id order),
    how many 3-gram shingles appear for the FIRST time, and the running
    distinct-shingle total — the saturation diagnostic that tells a
    corpus builder when additional data stops adding novelty (flat curve
    = crawl exhausted / duplication dominating). First occurrence is a
    min(doc_id) aggregate on the shingle key (one shuffle, map-side
    combined); the running sum is a single global-order window over the
    |docs|-sized n_new table — same per-shard-at-scale note as
    doc_pack_bins (ingestion order is the natural shard key). Docs whose
    shingles are all previously seen contribute no row (n_new >= 1 by
    construction on both engines)."""
    sh = _shingled(spark, sf_dir)
    from pyspark.sql import Window

    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("doc_id"))
    news = firsts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy(F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return news.select(
        "doc_id",
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_vocab"),
    )


# BPE-ish pre-tokenizer (same character-class reduction as
# props_bpe_tokens, identical under Java regex and RE2).
_FERT_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


@query(
    "tokenization_fertility_by_lang",
    oracle=f"""
    WITH t AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_words,
               len(regexp_extract_all(text, '{_FERT_PAT}')) AS n_bpe
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe,
           round(sum(n_bpe) * 1.0 / sum(n_words), 6) AS fertility
    FROM t WHERE n_words > 0
    GROUP BY lang
    """,
)
def tokenization_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit by language: BPE-ish tokens per
    whitespace word — the metric that decides whether a tokenizer taxes
    some languages with more tokens per word (cost and context-budget
    skew; high-fertility languages get fewer effective words per context
    window). Fertility is a ratio of exact integer sums per language
    (never a mean of per-doc ratios, which would weight short docs up);
    the token counts are map-only regexp projections that pipeline with
    the scan."""
    d = _docs(spark, sf_dir)
    n_words = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_FERT_PAT), 0))
    t = d.select(
        "lang", n_words.alias("n_words"), n_bpe.alias("n_bpe")
    ).where(F.col("n_words") > 0)
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe"),
        F.round(F.sum("n_bpe") * 1.0 / F.sum("n_words"), 6).alias(
            "fertility"
        ),
    )


PREFIX_DUP_CHARS = 64


@query(
    "doc_prefix_dup_groups",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, md5(substr(text, 1, {PREFIX_DUP_CHARS})) AS ph
        FROM documents WHERE length(text) >= {PREFIX_DUP_CHARS}
    )
    SELECT ph AS prefix_hash,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_id
    FROM p GROUP BY ph HAVING count(*) >= 2
    """,
)
def doc_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplicate groups: documents whose first
    {PREFIX_DUP_CHARS} characters hash identically — the
    boilerplate-header detector (templated intros, mirrored pages with
    divergent tails) that exact whole-text dedup misses and shingle
    Jaccard underweights. One digest projection + one hash-keyed count
    with a min-id keeper, the exact_dedup_groups shape on a prefix
    grain; docs shorter than the prefix are excluded on both engines
    (a short doc's whole text is not a 'prefix')."""
    d = _docs(spark, sf_dir)
    p = d.where(F.length("text") >= PREFIX_DUP_CHARS).select(
        "doc_id",
        F.md5(
            F.substring(F.col("text"), 1, PREFIX_DUP_CHARS).cast("binary")
        ).alias("prefix_hash"),
    )
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


@query(
    "doc_numeric_density",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))
                AS BIGINT) AS n_numeric,
           round(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))
                 * 1.0 / len(toks), 6) AS numeric_ratio
    FROM t WHERE len(toks) > 0
    """,
)
def doc_numeric_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-token density — the Gopher-family symbol/number gate
    (tables, serial dumps, and price lists score high and get routed to
    structured-data handling instead of the text mixture). Map-only JVM
    array arithmetic (filter + regexp per token), ratio of exact
    integers; pipelines with the scan at any corpus size."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_num = F.size(F.filter(toks, lambda x: x.rlike("^[0-9]+$")))
    return (
        d.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            n_num.cast("bigint").alias("n_numeric"),
        )
        .where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_numeric",
            F.round(F.col("n_numeric") * 1.0 / F.col("n_tokens"), 6).alias(
                "numeric_ratio"
            ),
        )
    )


SEQ_LEN = 512


@query(
    "corpus_token_budget_planner",
    oracle=f"""
    WITH t AS (
        SELECT source,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(ceil(sum(n_tok) / {SEQ_LEN}.0) AS BIGINT) AS packed_seqs,
           CAST(sum(CAST(ceil(n_tok / {SEQ_LEN}.0) AS BIGINT)) AS BIGINT)
               AS naive_seqs,
           round(1.0 - sum(n_tok)
                 / (sum(CAST(ceil(n_tok / {SEQ_LEN}.0) AS BIGINT))
                    * {SEQ_LEN}.0), 6) AS naive_padding_waste
    FROM t GROUP BY source
    """,
)
def corpus_token_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-budget planning per source: total tokens, the packed
    sequence count (ceil(total/{SEQ_LEN}) — the doc_pack_bins lower
    bound) vs the naive one-doc-per-sequence count, and the padding
    fraction naive batching wastes — the arithmetic that justifies
    running the packer at all, per data source. One map-only token
    count + one source-keyed aggregate of exact integers; ceil on an
    integer/constant ratio is engine-identical."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    t = d.select("source", n_tok.alias("n_tok"))
    naive = F.sum(F.ceil(F.col("n_tok") / float(SEQ_LEN)).cast("long"))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.ceil(F.sum("n_tok") / float(SEQ_LEN)).cast("bigint").alias(
            "packed_seqs"
        ),
        naive.cast("bigint").alias("naive_seqs"),
        F.round(
            1.0 - F.sum("n_tok") / (naive * float(SEQ_LEN)), 6
        ).alias("naive_padding_waste"),
    )


@query(
    "source_vocab_overlap",
    oracle="""
    WITH st AS (
        SELECT DISTINCT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ),
    sizes AS (SELECT source, count(*) AS n FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
        FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b,
           CAST(i.i AS BIGINT) AS n_shared,
           round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY Jaccard between data sources — the
    mixture-design lens that chunk-level leakage misses: two sources can
    share no verbatim chunks yet cover the same vocabulary (redundant
    for diversity) or be near-disjoint (each earns its mixture weight).
    Distinct (source, term) once, a term-keyed self-join whose output
    is bounded by |sources|² pairs per term-match (sources are few;
    the term join is the only shuffle), exact integer set algebra."""
    d = _docs(spark, sf_dir)
    st = d.select(
        "source",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            )
        ).alias("term"),
    ).distinct()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = st.select(F.col("source").alias("source_a"), "term")
    b = st.select(F.col("source").alias("source_b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("i").cast("bigint").alias("n_shared"),
            F.round(
                F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i")), 6
            ).alias("jaccard"),
        )
    )


# ---- collocation / retrieval family (round-7 continuation, round-9 tier) --

# PMI census parameters: a bigram must occur at least this often to be
# scored (rare pairs have unstable PMI), and the census keeps the top-k.
PMI_MIN_COUNT = 5
PMI_TOP_K = 40


@query(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    occ AS (
        SELECT b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
            FROM toks WHERE len(t) >= 2
        )
    ),
    c2 AS (SELECT w1, w2, count(*) AS n_pair FROM occ GROUP BY w1, w2),
    u AS (
        SELECT tok, count(*) AS c FROM (
            SELECT unnest(t) AS tok FROM toks
        ) GROUP BY tok
    ),
    tot AS (
        SELECT (SELECT count(*) FROM occ) AS nb,
               (SELECT CAST(sum(c) AS BIGINT) FROM u) AS nt
    )
    SELECT c2.w1, c2.w2, c2.n_pair,
           round(ln((c2.n_pair * 1.0 * tot.nt * tot.nt)
                    / (tot.nb * 1.0 * ua.c * ub.c)), 6) AS pmi
    FROM c2
    JOIN u ua ON ua.tok = c2.w1
    JOIN u ub ON ub.tok = c2.w2
    CROSS JOIN tot
    WHERE c2.n_pair >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT {PMI_TOP_K}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent-token COLLOCATIONS by pointwise mutual information —
    the phrase-mining census (corpus_top_bigrams finds frequent pairs;
    PMI finds pairs frequent RELATIVE to their parts, i.e. multi-word
    expressions worth protecting from tokenizer splits or template
    boilerplate worth stripping). pmi = ln(p(ab) / (p(a)p(b))) with
    all four counts exact integers; the single expression
    (n_pair·nt·nt)/(nb·c_a·c_b) is evaluated with the same
    left-associated order on both engines, so the one ln sits on a
    bit-identical double and round(...,6) absorbs its <=1-ulp libm
    spread. Plan: one bigram explode feeding the pair aggregate, one
    token explode feeding the unigram aggregate (both map-side
    combined), totals folded in as a scalar-agg crossJoin (no eager
    count()), then two vocabulary-keyed joins — vocabulary-sized
    tables shuffle at 100 TB and broadcast at bench SF, same plan.
    The >= {PMI_MIN_COUNT}-count gate bounds the scored set; the
    top-{PMI_TOP_K} is a TakeOrderedAndProject on the rounded score
    with a full lexical tie-break, so the selected set is
    deterministic."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("t"),
    )
    occ = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = (
        occ.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= PMI_MIN_COUNT)
    )
    u = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = occ.agg(F.count(F.lit(1)).alias("nb")).crossJoin(
        toks.select(F.explode("t").alias("tok"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    )
    ua = u.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    ub = u.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("n_pair") * 1.0 * F.col("nt") * F.col("nt"))
            / (F.col("nb") * 1.0 * F.col("ca") * F.col("cb"))
        ),
        6,
    )
    return (
        c2.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_K)
    )


# BM25 retrieval parameters (Robertson/Sparck-Jones defaults) and a fixed
# keyword query drawn from the synthetic corpus vocabulary.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "stream", "hash")
BM25_TOP_K = 20

# Single source of truth for the query-term surface: the SQL IN-list, the
# per-term pivot columns (both engines), and the fixed-order final sum are
# ALL generated from BM25_TERMS, so editing the term list cannot
# desynchronize the oracle from the Spark side.
_BM25_IN_SQL = "(" + ", ".join(f"'{t}'" for t in BM25_TERMS) + ")"
_BM25_PIVOT_SQL = ",\n               ".join(
    f"coalesce(sum(CASE WHEN term = '{t}' THEN sc END), 0.0) AS s{i + 1}"
    for i, t in enumerate(BM25_TERMS)
)
# e.g. "s1 + s2 + s3" — imported by the RRF hybrid-fusion oracle too.
_BM25_SUM_SQL = " + ".join(f"s{i + 1}" for i in range(len(BM25_TERMS)))


# The full BM25 scoring chain (toks -> ... -> pivoted), shared by the
# keyword-search oracle and the RRF hybrid-fusion oracle (vectors
# workload). `pivoted` holds (doc_id, s1..sN) per matching doc.
_BM25_CTES = f"""
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, tok AS term, count(*) AS tf FROM (
            SELECT doc_id, unnest(t) AS tok FROM toks
        )
        WHERE tok IN {_BM25_IN_SQL}
        GROUP BY doc_id, tok
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored_bm25 AS (
        SELECT tf.doc_id, tf.term,
               ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1}
                  * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
        FROM tf
        JOIN df ON df.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    ),
    pivoted AS (
        SELECT doc_id,
               {_BM25_PIVOT_SQL}
        FROM scored_bm25 GROUP BY doc_id
    )
""".strip()


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document matching >= 1 query term, bm25
    rounded to 6dp — the shared scoring kernel behind
    bm25_keyword_search (which registers this + top-k, see below) and
    the RRF hybrid fusion (vectors workload). Standard Robertson BM25
    with k1={BM25_K1}, b={BM25_B} and a fixed {len(BM25_TERMS)}-term
    query. Determinism: per-term scores are summed in a FIXED textual
    order (s_join + s_stream + s_hash via conditional pivots, never an
    arbitrary-order SUM over a float group), tf/df/dl are exact
    integers, avgdl is the same single division on both engines, and
    the one ln-per-term sits on an exact ratio so round(...,6) absorbs
    libm spread. Plan: token explode filtered to the query terms BEFORE
    the tf aggregate (the filter prunes ~the whole corpus vocabulary
    map-side), a 3-row df aggregate and 2-scalar stats aggregate folded
    in by broadcast crossJoin, one doc-keyed join to lengths. At 100 TB
    the term filter is the whole story: only rows containing query
    terms survive the explode stage, so the shuffled state is
    O(matching docs), and a real deployment swaps the literal term list
    for a broadcast query table at the same shape."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("t"),
    )
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    sc = (
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", sc.alias("sc"))
    )
    def _term_sum(t: str):
        return F.coalesce(
            F.sum(F.when(F.col("term") == t, F.col("sc"))), F.lit(0.0)
        )

    pivoted = scored.groupBy("doc_id").agg(
        *[
            _term_sum(t).alias(f"s{i + 1}")
            for i, t in enumerate(BM25_TERMS)
        ]
    )
    total = F.col("s1")
    for i in range(1, len(BM25_TERMS)):
        total = total + F.col(f"s{i + 1}")
    return pivoted.select("doc_id", F.round(total, 6).alias("bm25"))


@query(
    "bm25_keyword_search",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, round({_BM25_SUM_SQL}, 6) AS bm25
    FROM pivoted
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {BM25_TOP_K}
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the corpus — the lexical-search
    counterpart to the embedding kNN family (corpus curation uses it to
    pull topic slices; eval pipelines use it as the sparse retriever
    baseline). Scoring kernel (and its determinism + 100 TB argument)
    in :func:`bm25_scores`; this registers the retrieval surface: a
    TakeOrderedAndProject top-{BM25_TOP_K} on the rounded score with
    doc_id tie-break."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


@query(
    "near_dup_cluster_source_mix",
    oracle=f"""
    WITH RECURSIVE {_DSH_CTE.strip()},
    {_CC_COMP_CTES}
    SELECT c.m AS cluster_rep,
           count(*) AS cluster_size,
           CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(CASE WHEN count(DISTINCT d.source) > 1 THEN 1 ELSE 0 END
                AS BIGINT) AS cross_source
    FROM comp c JOIN documents d ON d.doc_id = c.id
    GROUP BY c.m
    """,
)
def near_dup_cluster_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters annotated with how many SOURCES they span —
    the cluster-level contamination lens chunk-level leakage misses: a
    cluster confined to one source is internal boilerplate (dedup
    freely), while a cross-source cluster is syndicated/mirrored content
    whose removal changes the mixture weights
    (cross_source_chunk_leakage tells you THAT chunks leak; this tells
    you which duplicate FAMILIES do). Same PPJoin -> distributed
    connected-components chain as near_dup_cluster_sizes — the
    component label is the cluster's min doc_id on both engines, so
    per-cluster rows compare exactly — then one doc_id-keyed join back
    to the documents dimension for source attribution. The join ships
    only clustered doc_ids (near-dup members, a small fraction of the
    corpus), and countDistinct(source) is bounded by the source
    cardinality, so the added cost over the sizes report is one narrow
    shuffle."""
    comp = _ppjoin_component_labels(spark, sf_dir)
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("node_id"), "source"
    )
    return (
        comp.join(d, "node_id")
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .select(
            F.col("component_id").alias("cluster_rep"),
            "cluster_size",
            "n_sources",
            F.when(F.col("n_sources") > 1, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("cross_source"),
        )
    )


# Function-word stopword list for the ratio signal — generated into both
# engines' predicates from this one constant (the BM25_TERMS discipline).
STOPWORDS = ("a", "the")
_STOP_IN_SQL = "(" + ", ".join(f"'{t}'" for t in STOPWORDS) + ")"


@query(
    "stopword_ratio_by_source",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    per_doc AS (
        SELECT source,
               len(list_filter(toks, x -> x IN {_STOP_IN_SQL})) AS n_stop,
               len(toks) AS n_tok
        FROM t WHERE len(toks) > 0
    )
    SELECT source,
           count(*) AS n_docs,
           round(sum(n_stop) * 1.0 / sum(n_tok), 6) AS stop_ratio,
           round(quantile_cont(n_stop * 1.0 / n_tok, 0.9), 6)
               AS p90_doc_ratio
    FROM per_doc GROUP BY source
    """,
)
def stopword_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword (function-word) share per source domain — the Gopher-rule
    quality signal the gate family doesn't yet report standalone: real
    prose carries a stable stopword fraction; keyword-stuffed or
    boilerplate text sits far below it, and a SOURCE whose aggregate
    ratio collapses is a crawl-quality incident. Two numbers per source:
    the aggregate token-weighted ratio (a ratio of exact integer sums —
    deterministic division) and the p90 of per-doc ratios (each per-doc
    ratio is an exact int/int division, identical IEEE on both engines;
    the interpolation identity is the proven value_quantiles one).
    Plan: map-only token filtering fused with the scan (the stopword
    membership test is a per-row array filter against a tiny literal
    list), then one source-keyed aggregate — at 100 TB this is a single
    pass with map-side combine; the percentile state is per-source."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    stop_list = F.array(*[F.lit(s) for s in STOPWORDS])
    per_doc = d.select(
        "source",
        F.size(
            F.filter(toks, lambda x: F.array_contains(stop_list, x))
        ).alias("n_stop"),
        F.size(toks).alias("n_tok"),
    ).where(F.col("n_tok") > 0)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_stop") * 1.0 / F.sum("n_tok"), 6).alias(
            "stop_ratio"
        ),
        F.round(
            F.expr("percentile(n_stop * 1.0 / n_tok, 0.9)"), 6
        ).alias("p90_doc_ratio"),
    )


# Jaccard bands for the dedup threshold sweep, as integer percents so the
# group key is exact on both engines.
SWEEP_BANDS_PCT = (30, 50, 70, 90)


@query(
    "near_dup_threshold_sweep",
    oracle=f"""
    WITH {_DSH_CTE.strip()},
    sizes AS (SELECT doc_id, count(*) AS nd FROM dsh GROUP BY doc_id),
    dfq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle),
    ranked AS (
        SELECT d.doc_id, d.shingle, s.nd,
               row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY q.df ASC, d.shingle ASC) AS rn
        FROM dsh d JOIN dfq q USING (shingle) JOIN sizes s USING (doc_id)
    ),
    pfx AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rn <= nd - ceil({JACCARD_THRESHOLD} * nd) + 1
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM pfx a JOIN pfx b USING (shingle)
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cands c
        JOIN dsh da ON da.doc_id = c.a_id
        JOIN dsh db ON db.doc_id = c.b_id AND db.shingle = da.shingle
        GROUP BY c.a_id, c.b_id
    ),
    jac AS (
        SELECT i.a_id, i.b_id,
               round(i.i * 1.0 / (a.nd + b.nd - i.i), 6) AS j
        FROM inter i
        JOIN sizes a ON a.doc_id = i.a_id
        JOIN sizes b ON b.doc_id = i.b_id
        WHERE round(i.i * 1.0 / (a.nd + b.nd - i.i), 6)
              >= {JACCARD_THRESHOLD}
    ),
    hits AS (
        SELECT b.threshold_pct, j.a_id, j.b_id
        FROM (SELECT unnest({list(SWEEP_BANDS_PCT)}) AS threshold_pct) b
        JOIN jac j ON j.j >= b.threshold_pct / 100.0
    ),
    ds AS (
        SELECT threshold_pct, a_id AS d FROM hits
        UNION ALL
        SELECT threshold_pct, b_id FROM hits
    )
    SELECT p.threshold_pct, p.n_pairs, q.n_docs
    FROM (SELECT threshold_pct, count(*) AS n_pairs
          FROM hits GROUP BY threshold_pct) p
    JOIN (SELECT threshold_pct, count(DISTINCT d) AS n_docs
          FROM ds GROUP BY threshold_pct) q
    USING (threshold_pct)
    """,
)
def near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD SWEEP — the tuning report run before committing a
    jaccard cutoff to a 100 TB dedup pass: pair and affected-doc counts
    at each candidate threshold, from ONE exact PPJoin verification at
    the loosest band (0.3). Every higher band is a filter over the same
    exactly-scored pair set (PPJoin at 0.3 has zero false negatives, so
    the >=0.5/0.7/0.9 counts are complete by superset), so the sweep
    costs one candidate-bounded pass, not one pass per threshold.
    Determinism: jaccard is the rounded ratio of exact integers; bands
    are integer percents compared via an exact /100.0; a band with zero
    pairs drops from BOTH engines' output identically (inner joins).
    Plan: shared cached-shingle choreography (_materialize_release),
    then a 4-literal band explode over the k-bounded verified pairs."""
    from ..operators.dedup import jaccard_verify, prefix_filter_candidates

    shingled = _shingled(spark, sf_dir).cache()
    cands = prefix_filter_candidates(
        shingled, "doc_id", threshold=JACCARD_THRESHOLD
    ).cache()
    pairs = _materialize_release(
        jaccard_verify(
            cands, shingled, "doc_id", threshold=JACCARD_THRESHOLD
        ),
        shingled,
        cands,
    )
    bands = spark.createDataFrame(
        [(p,) for p in SWEEP_BANDS_PCT], ["threshold_pct"]
    )
    hits = pairs.join(
        F.broadcast(bands),
        F.col("jaccard") >= F.col("threshold_pct") / 100.0,
    )
    n_pairs = hits.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    ds = hits.select("threshold_pct", F.col("a_id").alias("d")).unionAll(
        hits.select("threshold_pct", F.col("b_id").alias("d"))
    )
    n_docs = ds.groupBy("threshold_pct").agg(
        F.countDistinct("d").alias("n_docs")
    )
    return n_pairs.join(n_docs, "threshold_pct")


@query(
    "source_heaps_law",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ),
    m AS (
        SELECT source, count(*) AS total_tokens,
               count(DISTINCT term) AS distinct_terms
        FROM toks GROUP BY source
    )
    SELECT source, total_tokens, distinct_terms,
           round(ln(distinct_terms) / ln(total_tokens), 6)
               AS heaps_exponent
    FROM m
    """,
)
def source_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) profile per source: total tokens T,
    distinct terms V, and the empirical exponent ln V / ln T — the
    curve a tokenizer-budget plan reads (natural text sits near
    V ~ T^0.5-0.6; a source whose exponent collapses is template spam,
    one that approaches 1 is ID/hash noise — both are dedup/filter
    candidates before they waste vocabulary). Exact integer counts, one
    log ratio rounded at 6dp (identical libm inputs). Plan: explode +
    one source-keyed aggregate with a distinct on (source, term) — the
    vocabulary-keyed shuffle every distinct-count carries; at 100 TB
    swap the exact distinct for HLL (approx_count_distinct) at the same
    plan shape."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term"),
    )
    m = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("term").alias("distinct_terms"),
    )
    return m.select(
        "source",
        "total_tokens",
        "distinct_terms",
        F.round(
            F.log("distinct_terms") / F.log("total_tokens"), 6
        ).alias("heaps_exponent"),
    )


@query(
    "lang_length_quantiles",
    oracle="""
    WITH t AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(round(quantile_cont(n_tok, 0.25)) AS BIGINT) AS p25_tokens,
           CAST(round(quantile_cont(n_tok, 0.5)) AS BIGINT) AS p50_tokens,
           CAST(round(quantile_cont(n_tok, 0.75)) AS BIGINT) AS p75_tokens
    FROM t GROUP BY lang
    """,
)
def lang_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length quartiles per language — the per-language sequence-
    budget input (packing bins, truncation limits, and sampling weights
    are all set per language because length distributions differ; this
    is the number that feeds them, next to
    tokenization_fertility_by_lang's chars-per-token). Map-only token
    counting fused with the scan, one lang-keyed aggregate; quantiles
    interpolate over exact integers then re-round to BIGINT."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "lang",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("n_tok"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_tok", F.lit(0.25)))
        .cast("bigint")
        .alias("p25_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.5)))
        .cast("bigint")
        .alias("p50_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.75)))
        .cast("bigint")
        .alias("p75_tokens"),
    )


# ---- round-9 additions -----------------------------------------------------


@query(
    "ngram_coverage_curve",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    tot AS (SELECT sum(n) AS t, count(*) AS v FROM freq),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rn
        FROM freq
    ),
    cum AS (
        SELECT rn, sum(n) OVER (
            ORDER BY rn ASC ROWS UNBOUNDED PRECEDING
        ) AS c
        FROM ranked WHERE rn <= 1000
    )
    SELECT CAST(k AS BIGINT) AS vocab_k,
           CAST((SELECT v FROM tot) AS BIGINT) AS vocab_total,
           round((SELECT c FROM cum
                  WHERE rn = least(k, (SELECT v FROM tot))) * 1.0
                 / (SELECT t FROM tot), 6) AS coverage
    FROM (VALUES (10), (100), (1000)) AS ks(k)
    ORDER BY vocab_k
    """,
)
def ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER VOCABULARY COVERAGE curve: the fraction of all corpus
    token occurrences covered by the top-k most frequent tokens, at
    k = 10 / 100 / 1000 — the first number a tokenizer design reads off
    a corpus (how much of the stream a small vocab absorbs; the
    complement is the OOV mass a BPE fallback must carry). Frequencies
    come from one explode + one token-keyed count (map-side combined);
    only the top-1000 rows — a CONSTANT — enter the ordered running-sum
    window (TakeOrdered prunes first, so the deliberate single-partition
    window holds 1000 rows at any corpus size, the per_source_doc_sample
    bounding discipline), under the (freq DESC, token ASC) total tie
    order. A k beyond the realized vocabulary clamps to the full-vocab
    coverage (1.0) on both engines. Output: 3 rows with the full-vocab
    size alongside."""
    prep(spark)
    from pyspark.sql import Window

    d = catalog.load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = freq.agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("v")
    )
    top = freq.orderBy(F.desc("n"), F.asc("token")).limit(1000)
    w_cum = Window.orderBy(F.asc("rn")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rank = Window.orderBy(F.desc("n"), F.asc("token"))
    cum = top.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "c", F.sum("n").over(w_cum)
    )
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "k int")
    return (
        ks.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(cum),
            F.col("rn") == F.least(F.col("k"), F.col("v")),
        )
        .select(
            F.col("k").cast("bigint").alias("vocab_k"),
            F.col("v").cast("bigint").alias("vocab_total"),
            F.round(F.col("c") * 1.0 / F.col("t"), 6).alias("coverage"),
        )
        .orderBy("vocab_k")
    )


@query(
    "dedup_token_savings_by_source",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, md5(text) AS h,
               len(string_split(text, ' ')) AS ntok
        FROM documents
    ),
    k AS (
        SELECT *, min(doc_id) OVER (PARTITION BY h) AS keeper
        FROM d
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(sum(ntok) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN doc_id <> keeper THEN ntok ELSE 0 END)
                AS BIGINT) AS tokens_removed,
           round(sum(CASE WHEN doc_id <> keeper THEN ntok ELSE 0 END) * 1.0
                 / sum(ntok), 6) AS savings_pct
    FROM k GROUP BY source
    """,
)
def dedup_token_savings_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHAT DEDUP BUYS, priced in tokens: per source, the documents and
    token mass that exact dedup (min-doc_id keeper per md5(text) group —
    the certified exact_dedup_groups semantics) removes, and the
    fractional savings — the number a training-data pipeline actually
    budgets with (dedup_bytes_by_source prices storage; this prices the
    token budget the model trains on). Duplicate groups SPAN sources:
    the keeper window is hash-keyed across the whole corpus, so a doc
    whose twin lives in another source still counts as removed here —
    charged to its own source (the cross-source leakage view is
    cross_source_chunk_leakage). One digest-keyed window + one
    source-keyed aggregate; token counts are exact integers."""
    prep(spark)
    from pyspark.sql import Window

    d = catalog.load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.size(F.split("text", " ")).alias("ntok"),
    )
    k = d.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("h"))
    )
    dup = F.col("doc_id") != F.col("keeper")
    return k.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(dup.cast("int")).cast("bigint").alias("n_dup_docs"),
        F.sum("ntok").cast("bigint").alias("tokens_total"),
        F.sum(F.when(dup, F.col("ntok")).otherwise(0))
        .cast("bigint")
        .alias("tokens_removed"),
        F.round(
            F.sum(F.when(dup, F.col("ntok")).otherwise(0))
            * 1.0
            / F.sum("ntok"),
            6,
        ).alias("savings_pct"),
    )
