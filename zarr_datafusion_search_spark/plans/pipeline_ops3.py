"""Round-3 pipeline-operator queries (second batch): heavy hitters,
deterministic per-key sampling, SCD2 point-in-time lookup, robust outlier
detection, BPE merge statistics, incremental aggregate maintenance,
hashed-feature quality classification, per-domain quantile calibration,
embedding centroid drift, A-priori itemset pairs, cooldown dedup, and the
zarr row-append roundtrip.

Same contract as ``pipeline_ops``: every entry is a Spark DataFrame plan
plus a DuckDB oracle computing the identical result (column names aliased
identically on both sides; floats pinned with both-side rounding).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from zarr_datafusion_search_spark.plans.registry import register, table

#: shared oracle CTE: lower-cased whitespace tokens per document
_TOKS = r"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                             x -> len(x) > 0) AS t
  FROM documents
)"""


def _bigram_terms(docs: DataFrame) -> DataFrame:
    """One row per adjacent token pair ('a b') across the corpus —
    the term stream for the frequent-items queries. All built-in array
    expressions (slice + zip_with), JVM-side.

    The token array is PROJECTED before the gram build (word_ngrams_col's
    documented contract): the previous version passed the raw tokenizer
    expression into size/slice/slice, which re-ran the split+lower+filter
    once per reference. The gram build is also an amplifying stage fused
    into the scan, so the input gets the standard scan-parallelism repair
    (a single-row-group documents file otherwise serializes the explode,
    the downstream Misra-Gries pass AND the exact verification pass onto
    one core). Measured at the 10x scale point: bare bigram explode
    4.1 s -> 0.4 s from the two fixes together."""
    from zarr_datafusion_search_spark.operators.dedup import (
        tokens_col,
        word_ngrams_col,
    )
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    toksd = ensure_scan_parallelism(docs).select(
        tokens_col("text").alias("_toks")
    ).filter(F.size("_toks") >= 2)
    return toksd.select(
        F.explode(word_ngrams_col(F.col("_toks"), 2)).alias("term")
    )


_FREQ_MIN_COUNT = 30
_FREQ_CAPACITY = 4096


@register(
    "frequent_terms_heavy_hitters",
    oracle=f"""
    WITH {_TOKS},
    tl AS (
      SELECT t[i] || ' ' || t[i + 1] AS term
      FROM toks, unnest(range(1, len(t))) AS r(i)
    ),
    tot AS (SELECT count(*) AS n FROM tl),
    cnt AS (SELECT term, count(*) AS cnt FROM tl GROUP BY 1)
    SELECT term, cnt FROM cnt CROSS JOIN tot
    WHERE cnt >= greatest({_FREQ_MIN_COUNT},
                          n // ({_FREQ_CAPACITY} + 1) + 1)
    """,
    doc="Exact heavy hitters over the corpus bigram stream via two-pass "
    "Misra-Gries (bounded-memory per-partition candidates, zero-shuffle "
    "pass 1; broadcast-semi-join exact verification, candidate-only "
    "shuffle pass 2) — the scale path that avoids shuffling the full "
    "vocabulary tail. Output is exact and partitioning-independent "
    "(threshold = max(min_count, MG guarantee floor)), so the oracle is "
    "the plain GROUP BY / HAVING it replaces.",
)
def frequent_terms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.frequent import frequent_terms

    docs = table(spark, sf, "documents")
    return frequent_terms(
        _bigram_terms(docs),
        min_count=_FREQ_MIN_COUNT,
        capacity=_FREQ_CAPACITY,
    )


@register(
    "sample_per_source",
    oracle="""
    SELECT doc_id, source, n_chars, sample_rank FROM (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5('7:' || doc_id::VARCHAR), 2, 15))::BIGINT,
                        doc_id
             ) AS INT) AS sample_rank
      FROM documents)
    WHERE sample_rank <= 20
    """,
    doc="Deterministic k-per-key sampling (replayable reservoir): rows "
    "rank within their key by a seeded portable hash of the id, first k "
    "survive. Distributionally a uniform k-reservoir, but a pure function "
    "of (seed, id) — re-runs, repartitions, and the DuckDB oracle all "
    "reproduce the exact sample. One key-shuffle window.",
)
def sample_per_source(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.text import sample_per_key

    docs = table(spark, sf, "documents")
    return sample_per_key(docs, key_col="source", k=20, seed=7).select(
        "doc_id", "source", "n_chars", "sample_rank"
    )


@register(
    "scd2_point_in_time_lookup",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type <> 'purchase'
    ),
    cp AS (
      SELECT user_id, ts, event_type AS state FROM (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM src)
      WHERE prev IS NULL OR event_type <> prev
    ),
    f AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts,
           cp.ts AS ts_right, cp.state AS state_right
    FROM f ASOF LEFT JOIN cp
      ON f.user_id = cp.user_id AND f.ts >= cp.ts
    """,
    doc="SCD2 point-in-time dimension lookup: each purchase enriched with "
    "the user's activity state valid at purchase time. Interval "
    "containment over contiguous SCD2 intervals reduces to an as-of match "
    "on valid_from, so the plan is the union+window as-of join (one "
    "key-shuffle, linear scan) — no fact x history interval join. Oracle: "
    "change-point build + DuckDB native ASOF JOIN.",
)
def scd2_point_in_time_lookup(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.timeseries import (
        scd2_history,
        scd2_lookup,
    )

    e = table(spark, sf, "events")
    history = scd2_history(e.filter(F.col("event_type") != "purchase"))
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "event_id"
    )
    out = scd2_lookup(facts, history, key="user_id", ts_col="ts")
    return out.select("event_id", "user_id", "ts", "ts_right", "state_right")


@register(
    "outliers_mad_value",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS dv, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, count(*) AS n, any_value(med) AS med,
             nullif(quantile_cont(dv, 0.5), 0.0) AS mad
      FROM dev GROUP BY 1
    ),
    sc AS (
      SELECT d.event_type, d.dv / (1.4826 * m.mad) AS rz
      FROM dev d JOIN mad m USING (event_type)
    )
    SELECT m.event_type, m.n, round(m.med, 6) AS med,
           round(m.mad, 6) AS mad, s.n_outliers, s.max_robust_z
    FROM mad m JOIN (
      SELECT event_type,
             count(*) FILTER (rz > 3.0) AS n_outliers,
             round(max(rz), 6) AS max_robust_z
      FROM sc GROUP BY 1
    ) s USING (event_type)
    """,
    doc="Robust per-group anomaly detection: median/MAD outlier stats per "
    "event type (mean/stddev z-scores break on the outliers themselves). "
    "Three scan+broadcast passes, no data-sized shuffle; exact grouped "
    "percentile for the oracle, approx_percentile at 100 TB.",
)
def outliers_mad_value(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.outliers import mad_outlier_stats

    return mad_outlier_stats(
        table(spark, sf, "events"), key_col="event_type", value_col="value"
    )


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH {_TOKS},
    words AS (
      SELECT word, count(*) AS wc
      FROM (SELECT unnest(t) AS word FROM toks) GROUP BY 1
    ),
    p AS (
      SELECT substr(word, i, 2) AS pair, wc
      FROM words, unnest(range(1, len(word))) AS r(i)
      WHERE len(word) >= 2
    ),
    c AS (SELECT pair, sum(wc)::BIGINT AS pair_count FROM p GROUP BY 1)
    SELECT pair, pair_count, rank FROM (
      SELECT pair, pair_count,
             CAST(row_number() OVER (
               ORDER BY pair_count DESC, pair) AS INT) AS rank
      FROM c)
    WHERE rank <= 40
    """,
    doc="Tokenizer-training statistics: first-iteration BPE merge "
    "candidates (adjacent character-pair counts over the word-frequency "
    "table). Vocab-sized shuffles only — raw text never moves; top-N via "
    "TakeOrderedAndProject with a total tie-break.",
)
def bpe_merge_candidates(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.text import bpe_merge_candidates

    return bpe_merge_candidates(table(spark, sf, "documents"), top_n=40)


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 6) AS total,
           round(sum(value) / count(*), 6) AS avg_value
    FROM events GROUP BY 1
    """,
    doc="Incremental materialized-aggregate maintenance: a pre-2024-02 "
    "per-user summary is folded together with the February delta batch "
    "WITHOUT rescanning base data — the shuffle moves summary rows, not "
    "facts. Oracle: full recompute over all events (the merge must be "
    "indistinguishable from it).",
)
def incremental_agg_merge(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.timeseries import merge_aggregates

    e = table(spark, sf, "events")
    cutoff = "2024-02-01"
    base = (
        e.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    delta = e.filter(F.col("ts") >= cutoff)
    return merge_aggregates(base, delta, key="user_id", value_col="value")


@register(
    "hashed_classifier_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> len(x) > 0) AS t
      FROM documents
    ),
    d AS (
      SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
             list_sum(list_transform(t, x ->
               ((('0x' || substr(md5(x), 2, 15))::BIGINT % 1024)
                * 2654435761 % 997 - 498) / 997.0
             )) / nullif(len(t), 0) AS margin
      FROM toks
    )
    SELECT doc_id, n_tokens, round(margin, 6) AS margin,
           round(1.0 / (1.0 + exp(-margin)), 6) AS quality_prob
    FROM d
    """,
    doc="fastText-shaped quality classifier scoring: hashed bag-of-words "
    "features -> mean-pooled linear weights -> sigmoid, all built-in "
    "expressions with a per-row sequential fold (zero shuffles). Weight "
    "table is a deterministic pseudo-trained stand-in the oracle "
    "reproduces; learned weights swap in without changing the plan.",
)
def hashed_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.text import hashed_linear_score

    return hashed_linear_score(table(spark, sf, "documents"), n_buckets=1024)


@register(
    "score_calibration_per_source",
    oracle="""
    SELECT doc_id, source, n_chars,
           round(percent_rank() OVER (
             PARTITION BY source ORDER BY n_chars, doc_id), 6) AS calibrated
    FROM documents
    """,
    doc="Per-domain quantile calibration: percent_rank within each source "
    "maps every domain's score distribution onto uniform [0,1], making a "
    "single global threshold mean the same thing across domains — the "
    "pre-step to cross-domain quality filtering. One group-key shuffle.",
)
def score_calibration_per_source(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.text import quantile_calibrate

    docs = table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return quantile_calibrate(
        docs, group_col="source", value_col="n_chars", id_col="doc_id"
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH x AS (
      SELECT label, i, avg(embedding[i]::DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)
      GROUP BY 1, 2
    ),
    c AS (SELECT label, list(v ORDER BY i) AS centroid FROM x GROUP BY 1),
    n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY 1)
    SELECT a.label AS group_a, b.label AS group_b,
           na.n_vectors AS n_a, nb.n_vectors AS n_b,
           round(list_dot_product(a.centroid, b.centroid) / nullif(
             sqrt(list_dot_product(a.centroid, a.centroid))
             * sqrt(list_dot_product(b.centroid, b.centroid)), 0), 6) AS cosine
    FROM c a JOIN c b ON a.label < b.label
    JOIN n na ON na.label = a.label
    JOIN n nb ON nb.label = b.label
    """,
    doc="Domain drift audit: pairwise cosine between per-label embedding "
    "centroids. Centroids via (group, dim) partial aggregation — the "
    "shuffle carries |groups| x dims partial sums, never vectors; the "
    "pairwise stage is a broadcast self-join over the |groups|-row "
    "centroid relation.",
)
def embedding_centroid_drift(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.similarity import (
        centroid_drift_matrix,
    )

    return centroid_drift_matrix(table(spark, sf, "embeddings"))


@register(
    "frequent_itemset_pairs",
    oracle=f"""
    WITH {_TOKS},
    items AS (
      SELECT DISTINCT doc_id, item
      FROM (SELECT doc_id, unnest(t) AS item FROM toks)
    ),
    singles AS (SELECT item FROM items GROUP BY 1 HAVING count(*) >= 50),
    fi AS (
      SELECT doc_id, list_sort(list(item))[1:64] AS its
      FROM items JOIN singles USING (item) GROUP BY 1
    ),
    p AS (
      SELECT its[i] AS item_a, its[j] AS item_b
      FROM fi,
           unnest(range(1, len(its) + 1)) r(i),
           unnest(range(1, len(its) + 1)) s(j)
      WHERE i < j
    )
    SELECT item_a, item_b, count(*) AS support
    FROM p GROUP BY 1, 2 HAVING count(*) >= 50
    """,
    doc="Frequent co-occurrence pairs (A-priori first join step) with the "
    "two scale guards: singleton-support pruning before pair expansion "
    "(broadcast frequent-item table) and a deterministic per-document "
    "basket cap so no page emits a quadratic blowup. Pair expansion is "
    "an expression-level i<j self-zip; one pair-key shuffle.",
)
def frequent_itemset_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.text import frequent_itemset_pairs

    return frequent_itemset_pairs(
        table(spark, sf, "documents"), min_support=50, max_items_per_doc=64
    )


@register(
    "sink_zarr_append_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
    doc="Row append to an existing zarr store: write the first half of "
    "documents through the distributed sink, APPEND the second half "
    "(only the boundary chunk is merged+rewritten; earlier chunk bytes "
    "untouched; metadata-only commit extends shape and per-chunk stats), "
    "read the store back through the chunk-partitioned source, aggregate. "
    "Oracle: the same aggregate over all documents — a lost, duplicated, "
    "or mangled row anywhere in the append path mismatches.",
)
def sink_zarr_append_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from zarr_datafusion_search_spark import ZarrTable
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        append_zarr_distributed,
        write_zarr_distributed,
    )

    docs = table(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    store = tempfile.mkdtemp(prefix="zdss_append_") + "/docs.zarr"
    # the even-id half is deliberately not a multiple of chunk_rows=256,
    # so the append exercises the boundary-chunk merge
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    write_zarr_distributed(first, store, chunk_rows=256)
    append_zarr_distributed(second, store)
    back = ZarrTable(store).to_df(spark)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "dedup_event_cooldown",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT user_id, event_type, event_id, ts, epoch_us(ts) AS tus,
             row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS rn
      FROM events
    ),
    walk AS (
      SELECT user_id, event_type, event_id, ts, tus, rn,
             TRUE AS kept, tus AS last_kept
      FROM e WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.event_type, b.event_id, b.ts, b.tus, b.rn,
             b.tus - w.last_kept > 1800000000 AS kept,
             CASE WHEN b.tus - w.last_kept > 1800000000
                  THEN b.tus ELSE w.last_kept END
      FROM e b JOIN walk w
        ON b.user_id = w.user_id AND b.event_type = w.event_type
       AND b.rn = w.rn + 1
    )
    SELECT event_id, user_id, event_type, ts FROM walk WHERE kept
    """,
    doc="Cooldown dedup (throttling/retry collapsing): keep an event only "
    "if the last KEPT event with the same (user, type) is more than 30 "
    "minutes older. Sequential per-key decision (not sessionization, not "
    "a window expression — each verdict depends on the previous verdict); "
    "ordered per-key applyInPandas fold in exact integer microseconds, "
    "one key shuffle. Oracle: recursive-CTE replay of the identical fold.",
)
def dedup_event_cooldown(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.sessions import (
        dedup_with_cooldown,
    )

    e = table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    out = dedup_with_cooldown(e, cooldown_minutes=30)
    return out.select("event_id", "user_id", "event_type", "ts")


@register(
    "topk_per_source_twophase",
    oracle="""
    SELECT doc_id, source, n_chars, rank FROM (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS INT) AS rank
      FROM documents)
    WHERE rank <= 5
    """,
    doc="Per-key top-k with map-side pruning: each task prunes its "
    "partition to <= k rows per key before the shuffle, so the window "
    "sees a k x keys x partitions superset instead of the corpus — the "
    "per-key generalization of TakeOrderedAndProject. Result is "
    "partitioning-independent and equals the one-phase window, which is "
    "the oracle.",
)
def topk_per_source_twophase(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.topk import topk_per_key

    docs = table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return topk_per_key(
        docs, key_col="source", order_col="n_chars", k=5, id_col="doc_id"
    )


def _cluster_histogram_oracle() -> str:
    from zarr_datafusion_search_spark.plans.pipeline_ops import (
        _MH_CTES,
        _MH_SELECT,
        components_oracle_ctes,
    )

    return f"""
    WITH {_MH_CTES},
    pairs AS MATERIALIZED ({_MH_SELECT}),
    {components_oracle_ctes()},
    csizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1),
    chist AS (SELECT cluster_size, count(*) AS n_clusters FROM csizes GROUP BY 1),
    singles AS (
      SELECT count(*) AS n1 FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.node = d.doc_id)
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
    FROM chist
    UNION ALL
    SELECT 1, n1, n1 FROM singles WHERE n1 > 0
    """


@register(
    "dedup_cluster_size_histogram",
    oracle=_cluster_histogram_oracle(),
    doc="Dedup audit report: the distribution of near-dup cluster sizes "
    "(including size-1 singletons via an anti-join against the clustered "
    "node set) — the yield/retention summary a curation run publishes "
    "before anyone deletes data. Composition: minhash-LSH pairs -> "
    "min-label components -> two tiny aggregations; the corpus appears "
    "once, in the pair generation.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators import components, dedup

    docs = table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, rows_per_band=4, jaccard_threshold=0.5
    )
    comp = components.connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    clustered = hist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
    )
    # NO broadcast hint on the clustered-node set: `comp` has one row per
    # document appearing in ANY near-dup pair — corpus-proportional at
    # 100 TB. Let the anti-join shuffle; AQE still converts it to a
    # broadcast join at runtime when the side is actually small.
    singles = (
        docs.join(
            comp.select(F.col("node").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n1"))
        .filter(F.col("n1") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n1").alias("n_clusters"),
            F.col("n1").alias("n_docs"),
        )
    )
    return clustered.unionByName(singles)


@register(
    "time_decayed_engagement",
    oracle="""
    SELECT event_id, user_id, ts, round(
             s * exp(-x) , 6) AS decayed_sum
    FROM (
      SELECT event_id, user_id, ts, x,
             sum(value * exp(x)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS s
      FROM (
        SELECT event_id, user_id, ts, value,
               (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
                 * (0.6931471805599453 / (7.0 * 86400.0 * 1e6)) AS x
        FROM events)
    )
    """,
    doc="Exponentially time-decayed running sum per user (recency-weighted "
    "engagement): the O(n^2)-per-key self-join factorizes into a narrow "
    "rescale + ONE cumulative window (S = e^-ax * cumsum(v * e^ax)), one "
    "key shuffle, linear work. Exact integer-microsecond time base; both "
    "engines replay the identical algebra.",
)
def time_decayed_engagement(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.timeseries import (
        time_decayed_sum,
    )

    return time_decayed_sum(table(spark, sf, "events"), half_life_days=7.0)


def _label_propagation_oracle(
    n_rounds: int = 3, degree_cap: int | str | None = "auto"
) -> str:
    from zarr_datafusion_search_spark.plans.pipeline_ops import (
        _MH_CTES,
        _MH_SELECT,
    )

    # MATERIALIZED on every multiply-referenced CTE: DuckDB's optimizer
    # may inline a CTE into each reference, and the minhash pair plan is
    # referenced by all rounds via `und` — without the hint the oracle
    # replays the whole minhash pipeline per round and blows the bench's
    # 30 s watchdog at sf0.1 (same fix as graph.duckdb_pagerank_sql)
    rounds = []
    prev = "seeds"
    for r in range(1, n_rounds + 1):
        rounds.append(f"""
    c{r} AS MATERIALIZED (
      SELECT e.dst AS node, l.label, round(sum(e.w), 6) AS wsum
      FROM und e JOIN {prev} l ON l.node = e.src
      GROUP BY 1, 2
    ),
    b{r} AS (
      SELECT node, label FROM (
        SELECT node, label, row_number() OVER (
          PARTITION BY node ORDER BY wsum DESC, label) AS rn
        FROM c{r}) WHERE rn = 1
    ),
    l{r} AS MATERIALIZED (
      SELECT node, label FROM seeds
      UNION ALL
      SELECT b.node, b.label FROM b{r} b
      WHERE b.node NOT IN (SELECT node FROM seeds)
      UNION ALL
      SELECT p.node, p.label FROM {prev} p
      WHERE p.node NOT IN (SELECT node FROM seeds)
        AND p.node NOT IN (SELECT node FROM c{r})
    )""")
        prev = f"l{r}"
    if degree_cap is None:
        und_cte = """und AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst, jaccard AS w FROM pairs
      UNION ALL
      SELECT doc_b, doc_a, jaccard FROM pairs
    )"""
    else:
        from zarr_datafusion_search_spark.operators.graph import (
            LPA_AUTO_FLOOR,
            LPA_AUTO_Q_DEN,
            LPA_AUTO_Q_NUM,
            LPA_TRIM_COST_FACTOR,
        )

        if degree_cap == "auto":
            # replay the engine's integer-exact adaptive rule
            # (graph._cap_from_hist): smallest degree whose cumulative
            # node count covers 99.5% of nodes, floored — AND the round-11
            # cost gate: trim only when n_rounds * removed_rows exceeds
            # 2 * (heavy_rows + kept_rows), all BIGINT arithmetic, so the
            # dense-hub regime (cap ~ population degree, removal ~half the
            # rows) keeps unguarded semantics exactly as the engine does.
            # The factor is graph.LPA_TRIM_COST_FACTOR, interpolated below.
            cap_expr = (
                "(CASE WHEN (SELECT dotrim FROM dtrim)"
                " THEN (SELECT cap FROM dcap)"
                " ELSE 9223372036854775807 END)"
            )
            cap_ctes = f"""dhist AS (
      SELECT d, count(*) AS c FROM (
        SELECT src, count(*) AS d FROM und_all GROUP BY 1) GROUP BY 1
    ),
    dcap AS (
      SELECT greatest({LPA_AUTO_FLOOR}, coalesce(min(d), {LPA_AUTO_FLOOR}))
               AS cap
      FROM (SELECT d, sum(c) OVER (ORDER BY d) AS cumc FROM dhist)
      WHERE cumc * {LPA_AUTO_Q_DEN}
            >= (SELECT sum(c) FROM dhist) * {LPA_AUTO_Q_NUM}
    ),
    dstats AS (
      SELECT coalesce(sum(d * c), 0) AS total,
             coalesce(sum(CASE WHEN d > (SELECT cap FROM dcap)
                               THEN d * c ELSE 0 END), 0) AS heavy_rows,
             coalesce(sum(CASE WHEN d > (SELECT cap FROM dcap)
                               THEN (d - (SELECT cap FROM dcap)) * c
                               ELSE 0 END), 0) AS removed
      FROM dhist
    ),
    dtrim AS (
      SELECT {n_rounds} * removed
               > {LPA_TRIM_COST_FACTOR}
                 * (heavy_rows + (total - removed)) AS dotrim
      FROM dstats
    ),
    """
        else:
            cap_expr = str(degree_cap)
            cap_ctes = ""
        # replay the engine's degree cap exactly: per src, keep the cap
        # heaviest edges, ties by dst — identical window spec both engines
        und_cte = f"""und_all AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst, jaccard AS w FROM pairs
      UNION ALL
      SELECT doc_b, doc_a, jaccard FROM pairs
    ),
    {cap_ctes}und AS MATERIALIZED (
      SELECT src, dst, w FROM (
        SELECT src, dst, w, row_number() OVER (
          PARTITION BY src ORDER BY w DESC, dst) AS dr
        FROM und_all)
      WHERE dr <= {cap_expr}
    )"""
    return f"""
    WITH {_MH_CTES},
    pairs AS MATERIALIZED ({_MH_SELECT}),
    {und_cte},
    seeds AS MATERIALIZED (
      SELECT doc_id AS node, source AS label FROM documents
      WHERE doc_id % 5 = 0
    ),{','.join(rounds)}
    SELECT node AS doc_id, label FROM {prev}
    """


@register(
    "label_propagation_sources",
    oracle=_label_propagation_oracle(),
    doc="Semi-supervised label propagation: a 20% trusted source labeling "
    "(doc_id % 5 = 0) spreads over the minhash near-dup graph for 3 "
    "synchronous rounds — weighted-majority argmax per node, seeds "
    "clamped, 6dp-rounded weight sums so the argmax is identical "
    "cross-engine. Per round: one labeled-edge join + one (node, label) "
    "agg + one argmax window, label relation localCheckpoint-ed (flat "
    "plan at any round count). DEFAULT path — the per-node degree cap is "
    "'auto' (p99.5 of the out-degree histogram, floor 8, integer-exact), "
    "so direct callers with heavy-tailed edge lists are guarded without "
    "opting in. Oracle: the identical 3 rounds unrolled as CTEs, with "
    "the identical quantile cap CTE.",
)
def label_propagation_sources(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators import dedup
    from zarr_datafusion_search_spark.operators.graph import label_propagation

    docs = table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, rows_per_band=4, jaccard_threshold=0.5
    )
    seeds = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("node"), F.col("source").alias("label")
    )
    out = label_propagation(pairs, seeds, n_rounds=3)
    return out.select(F.col("node").alias("doc_id"), "label")


@register(
    "label_propagation_sources_unguarded",
    oracle=_label_propagation_oracle(degree_cap=None),
    doc="Label propagation with degree_cap=None — the explicit opt-out "
    "from the default 'auto' per-node degree cap (exact unguarded "
    "semantics, every incident edge votes). Registered so the opt-out "
    "path stays oracled, mirroring dedup_minhash_lsh_unguarded.",
)
def label_propagation_sources_unguarded(
    spark: SparkSession, sf: str
) -> DataFrame:
    from zarr_datafusion_search_spark.operators import dedup
    from zarr_datafusion_search_spark.operators.graph import label_propagation

    docs = table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, rows_per_band=4, jaccard_threshold=0.5
    )
    seeds = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("node"), F.col("source").alias("label")
    )
    out = label_propagation(pairs, seeds, n_rounds=3, degree_cap=None)
    return out.select(F.col("node").alias("doc_id"), "label")


#: cap low enough to fire on the shipped SFs' near-dup communities while
#: keeping every sparse node's full adjacency; at 100x synthetic scale it
#: bounds each round's labeled-edge join to cap*|nodes| rows (the unguarded
#: growth was 10x data -> 26x time)
LABEL_PROP_DEGREE_CAP = 8


@register(
    "label_propagation_sources_guarded",
    oracle=_label_propagation_oracle(degree_cap=LABEL_PROP_DEGREE_CAP),
    doc="Label propagation WITH the per-node degree cap "
    "(operators/graph.py:label_propagation degree_cap): each node keeps "
    "only its 8 heaviest incident edges (ties by neighbor id) before the "
    "3 propagation rounds, bounding every round's join to cap*|nodes| "
    "rows — the guard that keeps dense template-family cliques from "
    "driving superlinear growth at scale. The oracle replays the "
    "identical cap window.",
)
def label_propagation_sources_guarded(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators import dedup
    from zarr_datafusion_search_spark.operators.graph import label_propagation

    docs = table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, rows_per_band=4, jaccard_threshold=0.5
    )
    seeds = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("node"), F.col("source").alias("label")
    )
    out = label_propagation(
        pairs, seeds, n_rounds=3, degree_cap=LABEL_PROP_DEGREE_CAP
    )
    return out.select(F.col("node").alias("doc_id"), "label")


@register(
    "join_key_skew_report",
    oracle="""
    WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
    t AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c)
    SELECT user_id, n_rows,
           round(n_rows / total, 6) AS share,
           round(n_rows * n_keys / total, 6) AS skew_factor
    FROM (SELECT * FROM c ORDER BY n_rows DESC, user_id LIMIT 10)
    CROSS JOIN t
    """,
    doc="Pre-join skew diagnostic: the top-10 heaviest join keys with "
    "their share and skew factor (count / mean per key) — the decision "
    "input for broadcast vs salt vs plain shuffle before stragglers "
    "appear. One map-side-combinable count agg + TakeOrderedAndProject.",
)
def join_key_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.skew import key_skew_report

    return key_skew_report(table(spark, sf, "events"), key_col="user_id")


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
             '\\s+', ' ', 'g')) AS norm_text,
           CAST(length(text) - length(trim(regexp_replace(
             regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
             '\\s+', ' ', 'g'))) AS INT) AS chars_removed
    FROM documents
    """,
    doc="Conservative ingest-time text normalization: lowercase, strip "
    "control characters, collapse whitespace, trim — restricted to regex "
    "constructs Java regex and RE2 interpret identically. Narrow per-row "
    "map, no shuffle; chars_removed doubles as a cheap corruption "
    "signal.",
)
def text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.text import normalize_text

    return normalize_text(table(spark, sf, "documents"))


@register(
    "cohort_retention_weekly",
    oracle="""
    WITH p AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
    f AS (SELECT user_id, min(w) AS cohort FROM p GROUP BY 1),
    act AS (
      SELECT DISTINCT p.user_id, f.cohort,
             CAST(floor(date_diff('day', f.cohort, p.w) / 7) AS INT)
               AS period_offset
      FROM p JOIN f USING (user_id)
    ),
    sizes AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1),
    r AS (
      SELECT cohort, period_offset, count(*) AS n_active
      FROM act GROUP BY 1, 2
    )
    SELECT CAST(r.cohort AS DATE) AS cohort, period_offset, n_active,
           cohort_size, round(n_active / cohort_size, 6) AS retention
    FROM r JOIN sizes USING (cohort)
    """,
    doc="Weekly cohort retention: users bucketed by first-activity week, "
    "tracked by the fraction returning in each later week — the standard "
    "activation report. Two aggregations plus one key join (AQE "
    "broadcasts the slim cohort dimension when it fits).",
)
def cohort_retention_weekly(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.timeseries import (
        cohort_retention,
    )

    return cohort_retention(table(spark, sf, "events"), period="week")


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'view') AS first_view,
             min(ts) FILTER (event_type = 'purchase') AS first_purchase
      FROM events GROUP BY 1
    ),
    lat AS (
      SELECT (epoch_us(first_purchase) - epoch_us(first_view)) / 1e6
               AS latency_s
      FROM f
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT count(*) AS n_converted,
           round(quantile_cont(latency_s, 0.5), 4) AS p50_s,
           round(quantile_cont(latency_s, 0.9), 4) AS p90_s,
           round(max(latency_s), 4) AS max_s
    FROM lat
    """,
    doc="Conversion-latency percentiles: per user, time from first view "
    "to first purchase (converted users only), summarized as p50/p90/max "
    "— the funnel's time dimension. One conditional-min aggregation per "
    "user (single shuffle) + one scalar percentile aggregate; exact "
    "integer-microsecond latency base so both engines agree bit-for-bit "
    "before the percentile interpolation.",
)
def funnel_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    f = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", t_us)).alias("_v"),
        F.min(F.when(F.col("event_type") == "purchase", t_us)).alias("_p"),
    )
    lat = f.filter(
        F.col("_v").isNotNull() & F.col("_p").isNotNull() & (F.col("_p") >= F.col("_v"))
    ).select(((F.col("_p") - F.col("_v")) / 1e6).alias("latency_s"))
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("latency_s", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("latency_s", F.lit(0.9)), 4).alias("p90_s"),
        F.round(F.max("latency_s"), 4).alias("max_s"),
    )


_ZTAIL_RUN = [0]


@register(
    "streaming_zarr_tail_counts",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
    doc="Streaming zarr SOURCE end-to-end: half of documents written to a "
    "store, the other half appended, then ONE availableNow stream tails "
    "the store through the ZarrStreamReader (offsets = committed row "
    "counts, chunk-aligned batch partitions) into a memory sink and the "
    "result is aggregated. Oracle: the same aggregate over the parquet "
    "original — any row lost/duplicated by offset tracking mismatches.",
)
def streaming_zarr_tail_counts(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from zarr_datafusion_search_spark.sources.zarr_sink import (
        append_zarr_distributed,
        write_zarr_distributed,
    )
    from zarr_datafusion_search_spark.sources.zarr_table import _ensure_registered
    from zarr_datafusion_search_spark.streaming.events import run_to_memory_sink

    _ensure_registered(spark)
    docs = table(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    store = tempfile.mkdtemp(prefix="zdss_tail_") + "/docs.zarr"
    write_zarr_distributed(
        docs.filter(F.col("doc_id") % 2 == 0), store, chunk_rows=256
    )
    append_zarr_distributed(docs.filter(F.col("doc_id") % 2 == 1), store)
    _ZTAIL_RUN[0] += 1
    name = f"zdss_ztail_{_ZTAIL_RUN[0]}"
    run_to_memory_sink(spark.readStream.format("zarr").load(store), name)
    return spark.table(name).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH s AS (
      SELECT lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_state,
             event_type AS to_state
      FROM events
    ),
    c AS (
      SELECT from_state, to_state, count(*) AS n_transitions
      FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_state, to_state, n_transitions,
           round(n_transitions / sum(n_transitions)
                   OVER (PARTITION BY from_state), 6) AS probability
    FROM c
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences (counts + row-normalized probabilities): one lag window "
    "per key, then a states^2-sized aggregation — the behavior model "
    "behind funnel anomaly detection.",
)
def event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.sessions import (
        transition_matrix,
    )

    return transition_matrix(table(spark, sf, "events"))


@register(
    "embedding_standardize_robust",
    oracle="""
    WITH x AS (
      SELECT vec_id, i, embedding[i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)
    ),
    st AS (
      SELECT i, quantile_cont(v, 0.5) AS med,
             nullif(quantile_cont(v, 0.75) - quantile_cont(v, 0.25), 0) AS iqr
      FROM x GROUP BY 1
    ),
    z AS (
      SELECT vec_id, x.i, round((v - med) / iqr, 6) AS z
      FROM x JOIN st USING (i)
    )
    SELECT vec_id, list(z ORDER BY i) AS standardized FROM z GROUP BY 1
    """,
    doc="Per-dimension robust standardization (median/IQR) of embeddings: "
    "posexplode -> dims-sized stats broadcast -> narrow rescale -> "
    "deterministic array reassembly. Constant dims map to NULL instead "
    "of dividing by zero.",
)
def embedding_standardize_robust(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.similarity import (
        standardize_embeddings,
    )

    return standardize_embeddings(table(spark, sf, "embeddings"))


@register(
    "equi_depth_bins",
    oracle="""
    SELECT event_type, bin, count(*) AS n,
           round(min(value), 6) AS lo, round(max(value), 6) AS hi
    FROM (
      SELECT event_type, value,
             CAST(ntile(10) OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS INT) AS bin
      FROM events)
    GROUP BY 1, 2
    """,
    doc="Equi-depth (quantile) binning: ntile(10) per event type over a "
    "total order (value, id) gives equal-count bins with their value "
    "ranges — the feature-bucketing complement to the equi-width "
    "histogram; one key-shuffle window plus a bins-sized aggregation.",
)
def equi_depth_bins(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select(
            "event_type",
            "value",
            F.ntile(10).over(w).cast("int").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@register(
    "skipgram_cooccurrence",
    oracle=f"""
    WITH {_TOKS},
    p AS (
      SELECT t[i] AS center, t[i + d] AS context
      FROM toks, unnest(range(1, len(t))) r(i),
           (SELECT unnest([1, 2]) AS d) dd
      WHERE i + d <= len(t)
      UNION ALL
      SELECT t[i + d], t[i]
      FROM toks, unnest(range(1, len(t))) r(i),
           (SELECT unnest([1, 2]) AS d) dd
      WHERE i + d <= len(t)
    )
    SELECT center, context, count(*) AS n
    FROM p GROUP BY 1, 2 HAVING count(*) >= 20
    """,
    doc="Skip-gram co-occurrence counts (+-2 token window, both "
    "directions) — word2vec's pair-generation pass. Expression-level "
    "slice+zip_with expansion per document; only map-side-combined pair "
    "counts shuffle, never raw text.",
)
def skipgram_cooccurrence(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators.text import skipgram_pairs

    return skipgram_pairs(table(spark, sf, "documents"), window=2, min_count=20)


def _containment_oracle() -> str:
    from zarr_datafusion_search_spark.functions.hashing import duckdb_h64
    from zarr_datafusion_search_spark.plans.pipeline_ops import (
        _NGRAM_MAX_DF,
        _SHINGLES,
    )

    return f"""
    WITH {_SHINGLES},
    shh0 AS (SELECT doc_id, {duckdb_h64('shingle')} AS sh_h FROM sh),
    dfreq AS (SELECT sh_h, count(*) AS df FROM shh0 GROUP BY sh_h),
    shh AS (
      SELECT s.doc_id, s.sh_h FROM shh0 s
      JOIN dfreq d ON d.sh_h = s.sh_h AND d.df <= {_NGRAM_MAX_DF}
    ),
    ssz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
    inter AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS n_inter
      FROM shh s1 JOIN shh s2
        ON s1.sh_h = s2.sh_h AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           i.n_inter::DOUBLE / least(sa.n, sb.n) AS containment
    FROM inter i
    JOIN ssz sa ON sa.doc_id = i.doc_a
    JOIN ssz sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter::DOUBLE / least(sa.n, sb.n) >= 0.6
    """


@register(
    "dedup_ngram_containment",
    oracle=_containment_oracle(),
    doc="Asymmetric near-dup pairs by n-gram containment "
    "(|A n B| / min(|A|,|B|) >= 0.6): catches a short document embedded "
    "in a long one, which symmetric Jaccard structurally misses. Same "
    "df-guarded inverted-index self-join as the Jaccard query — recall "
    "is measure-independent there, unlike MinHash bands whose collision "
    "rate tracks Jaccard.",
)
def dedup_ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark.operators import dedup

    from zarr_datafusion_search_spark.plans.pipeline_ops import _NGRAM_MAX_DF

    return dedup.ngram_containment_pairs(
        table(spark, sf, "documents"), n=3, threshold=0.6, max_df=_NGRAM_MAX_DF
    )
