"""Feature-engineering and behavioral-analytics queries (§2.11
extensions, round 2): the derived signals a training-data pipeline
computes once the corpus is clean — TF-IDF keyword extraction, kNN
label propagation, embedding column statistics and int8 quantization —
plus the event-log shapes (funnel, cohort retention, transition
bigrams, value histogram) that exercise chained windows and
multi-level conditional aggregation.

Scale notes baked into each plan:
- TF-IDF: document frequency is a term-keyed partial aggregate over the
  full corpus (one shuffle of (term, doc_id) pairs, map-side combined);
  the per-document TF side is broadcast when the scored slice is small.
- kNN vote: reuses the broadcast-queries brute-force top-k (one corpus
  scan), then a tiny per-query majority window.
- funnel: three chained windows over the SAME user_id partitioning —
  Catalyst plans one Exchange and three Window nodes, so the stage-gated
  minima cost one shuffle total.
- dim stats / quantize: pure map passes (posexplode / transform);
  quantization emits the int8 codes as a comma string so the
  differential harness can hash them cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.text import TOKS_SQL as TOKS
from ..operators import similarity
from ..sources.readers import load_table
from .catalog import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Text features
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    sql=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM tok WHERE doc_id < 30 GROUP BY doc_id, term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, term ASC) AS INT) AS rnk,
           term, round(score, 6) AS score
    FROM scored
    QUALIFY rnk <= 3
    ORDER BY doc_id, rnk
    """,
    doc="TF-IDF keyword extraction: top-3 terms per document (doc_id < "
    "30) scored tf * ln((N+1)/(df+1)). Document frequency aggregates "
    "over the FULL corpus (term-keyed, map-side combined); the scored "
    "TF slice is broadcast into the df join so the vocabulary table "
    "never re-shuffles. Ties break on term ascending.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    df_ = (
        tok.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n = d.agg(F.count("*").alias("n_docs"))
    tf = (
        tok.filter(F.col("doc_id") < 30)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        # bounded: tf is pinned to doc_id < 30 — ≤30 docs of per-doc vocab
        df_.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", F.round("score", 6).alias("score"))
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# Embedding features
# --------------------------------------------------------------------------
@register(
    "knn_label_vote",
    sql="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS v, label AS true_label
        FROM embeddings WHERE vec_id < 20),
    scored AS (
        SELECT q.query_id, q.true_label, c.vec_id AS neighbor_id, c.label,
               list_dot_product(q.v, c.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
                 AS cos_sim
        FROM embeddings c JOIN q ON c.vec_id >= 20),
    top AS (
        SELECT query_id, true_label, label
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) <= 5),
    votes AS (
        SELECT query_id, true_label, label, count(*) AS votes
        FROM top GROUP BY query_id, true_label, label)
    SELECT query_id, CAST(true_label AS INT) AS true_label,
           CAST(label AS INT) AS pred_label, CAST(votes AS BIGINT) AS votes
    FROM votes
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY votes DESC, label ASC) = 1
    ORDER BY query_id
    """,
    doc="kNN label propagation (weak supervision / auto-labeling): "
    "5-nearest-neighbor majority vote over held-out vectors (vec_id >= "
    "20) predicts each query vector's label. One corpus scan with a "
    "per-batch local top-5 (operators/similarity.block_topk), then a "
    "per-query majority window; ties break on the smaller label.",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 20)
    queries = emb.filter(F.col("vec_id") < 20)
    topk = similarity.block_topk(corpus, queries, k=5)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").cast("int").alias("true_label")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("n_label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("n_label").cast("int").alias("pred_label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
        .orderBy("query_id")
    )


@register(
    "embedding_dim_stats",
    sql="""
    WITH ex AS (
        SELECT unnest(embedding::DOUBLE[]) AS val,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings)
    SELECT CAST(dim AS INT) AS dim,
           round(avg(val), 4)        AS mean_val,
           round(stddev_pop(val), 4) AS std_val,
           round(min(val), 6)        AS min_val,
           round(max(val), 6)        AS max_val
    FROM ex GROUP BY dim ORDER BY dim
    """,
    doc="per-dimension embedding statistics (the normalization table a "
    "feature store derives before training): posexplode -> 64-group "
    "aggregate. Map-side partials mean the shuffle carries one row per "
    "(partition, dim), never per vector — constant-size at any corpus.",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "fval"))
        .select(
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.col("fval").cast("double").alias("val"),
        )
        .groupBy("dim")
        .agg(
            F.round(F.avg("val"), 4).alias("mean_val"),
            F.round(F.stddev_pop("val"), 4).alias("std_val"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("dim")
    )


@register(
    "embedding_quantize",
    sql="""
    SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(list_transform(v,
               x -> CAST(floor(x / scale + 0.5) AS BIGINT)), ',') AS q_vec
    FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127
                   AS scale
          FROM embeddings WHERE vec_id < 10)
    ORDER BY vec_id
    """,
    doc="symmetric int8 quantization (4x storage/bandwidth cut for ANN "
    "at scale): per-vector scale = max|x| / 127, codes = round(x / "
    "scale). Pure array-expression map pass, zero shuffle; codes are "
    "emitted as a comma string so the differential harness hashes them. "
    "Codes use floor(x/scale + 0.5) — pure IEEE ops that are "
    "bit-identical cross-engine, unlike decimal round(), whose "
    "half-value convention differs between Spark (BigDecimal HALF_UP) "
    "and DuckDB on values landing exactly on n+0.5.",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < 10)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn(
            # NOT named "scale": the output list aliases round(...) AS
            # scale, and Spark's lateral-column-alias resolution would
            # silently rebind the lambda's reference to the ROUNDED
            # value (plan splits into two Projects), skewing the codes.
            "raw_scale",
            F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127),
        )
        .select(
            "vec_id",
            F.round("raw_scale", 6).alias("scale"),
            F.array_join(
                F.transform(
                    "v",
                    lambda x: F.floor(x / F.col("raw_scale") + F.lit(0.5)).cast("bigint"),
                ),
                ",",
            ).alias("q_vec"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Event-log behavioral shapes
# --------------------------------------------------------------------------
@register(
    "event_funnel",
    sql="""
    WITH s1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS mv
        FROM events),
    s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts >= mv THEN ts END)
                 OVER (PARTITION BY user_id) AS mc
        FROM s1),
    s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= mc THEN ts END)
                 OVER (PARTITION BY user_id) AS mp
        FROM s2)
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN mv IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_viewed,
           CAST(count(DISTINCT CASE WHEN mc IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_clicked_after_view,
           CAST(count(DISTINCT CASE WHEN mp IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_purchased_after_click
    FROM s3
    """,
    doc="conversion funnel (view -> click -> purchase, order-respecting): "
    "stage minima computed by three chained windows over ONE user_id "
    "partitioning — Catalyst plans a single Exchange with three Window "
    "nodes, so the whole funnel costs one shuffle + one global agg.",
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "mv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "mc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("mv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "mp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("mc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return staged.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("mv").isNotNull(), F.col("user_id"))).alias(
            "n_viewed"
        ),
        F.countDistinct(F.when(F.col("mc").isNotNull(), F.col("user_id"))).alias(
            "n_clicked_after_view"
        ),
        F.countDistinct(F.when(F.col("mp").isNotNull(), F.col("user_id"))).alias(
            "n_purchased_after_click"
        ),
    )


@register(
    "cohort_retention",
    sql="""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events),
    cohort AS (
        SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id)
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', c.cohort_week, a.week) // 7 AS INT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="cohort retention matrix: users grouped by first-active week, "
    "counted in each subsequent week. Both aggregations and the join "
    "key on user_id, so Catalyst reuses one hash partitioning across "
    "distinct -> min -> join; the final (cohort, offset) rollup is "
    "tiny. Weeks truncate to Monday in both engines.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(cohort, "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("week", "cohort_week") / 7).cast("int").alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "bigram_transitions",
    sql="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events)
    SELECT prev_type, event_type AS cur_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, cur_type
    ORDER BY n DESC, prev_type, cur_type
    """,
    doc="event-type transition bigrams (the Markov table behind "
    "next-action models): lag over (ts, event_id)-ordered per-user "
    "sequences, then a 25-cell aggregate. One shuffle on user_id; "
    "event_id tie-break makes same-microsecond ordering deterministic "
    "in both engines.",
)
def bigram_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("cur_type"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "prev_type", "cur_type")
    )


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]

_CORR_SQL = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b, round(corr({a}, {b}), 4) AS corr_v"
    " FROM lineitem"
    for a, b in _CORR_PAIRS
)


@register(
    "numeric_correlations",
    sql=f"{_CORR_SQL}\nORDER BY col_a, col_b",
    doc="pairwise Pearson correlation matrix over the lineitem measures "
    "(feature-redundancy profiling before model training): all six "
    "pairs computed in ONE aggregation pass (each corr is a co-moment "
    "partial aggregate, map-side combined), then unpivoted via stack. "
    "One scan, one 1-row shuffle — never one pass per pair.",
)
def numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        *[
            F.round(F.corr(a, b), 4).alias(f"{a}__{b}")
            for a, b in _CORR_PAIRS
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', {a}__{b}" for a, b in _CORR_PAIRS
    )
    return agg.selectExpr(
        f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (col_a, col_b, corr_v)"
    ).orderBy("col_a", "col_b")


@register(
    "price_histogram",
    sql="""
    SELECT CAST(least(floor(l_extendedprice / 500), 20.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY bin
    ORDER BY bin
    """,
    doc="fixed-width value histogram (distribution profiling before "
    "outlier clipping): floor(price/500) capped at 20. Map + 21-group "
    "aggregate — the cheapest possible distribution sketch, and the "
    "exact twin that validates approx histogram sketches.",
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.least(F.floor(F.col("l_extendedprice") / 500), F.lit(20.0))
            .cast("bigint")
            .alias("bin"),
            "l_extendedprice",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("bin")
    )


@register(
    "embedding_drift_report",
    sql="""
    WITH halves AS (
        SELECT vec_id % 2 AS batch,
               unnest(embedding::DOUBLE[]) AS v,
               unnest(range(len(embedding))) AS dim
        FROM embeddings),
    stats AS (
        SELECT dim, batch,
               avg(v) AS mu,
               stddev_samp(v) AS sd,
               count(*) AS n
        FROM halves
        GROUP BY dim, batch),
    wide AS (
        SELECT a.dim,
               a.mu AS mu_a, b.mu AS mu_b,
               a.sd AS sd_a, b.sd AS sd_b,
               a.n AS n_a, b.n AS n_b
        FROM stats a JOIN stats b ON a.dim = b.dim
        WHERE a.batch = 0 AND b.batch = 1)
    SELECT CAST(dim AS INT) AS dim,
           round(mu_a, 6) AS mu_a,
           round(mu_b, 6) AS mu_b,
           round(abs(mu_a - mu_b), 6) AS mean_shift,
           round(abs(mu_a - mu_b)
                 / sqrt(sd_a * sd_a / n_a + sd_b * sd_b / n_b), 4) AS z_score
    FROM wide
    ORDER BY dim
    """,
    doc="embedding DISTRIBUTION DRIFT between two ingestion batches "
    "(vec_id parity as the batch stand-in): per-dimension means of "
    "each half plus a two-sample z-score of the shift — the check that "
    "catches a silently retrained/misversioned embedding model before "
    "it poisons an ANN index. One posexplode + one grouped aggregation "
    "per half, joined on dim (64 rows) — linear scan, tiny reduce.",
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    halves = emb.select(
        (F.col("vec_id") % 2).alias("batch"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    stats = halves.groupBy("dim", "batch").agg(
        F.avg("v").alias("mu"),
        F.stddev_samp("v").alias("sd"),
        F.count("*").alias("n"),
    )
    a = stats.filter(F.col("batch") == 0).select(
        "dim", F.col("mu").alias("mu_a"), F.col("sd").alias("sd_a"), F.col("n").alias("n_a")
    )
    b = stats.filter(F.col("batch") == 1).select(
        "dim", F.col("mu").alias("mu_b"), F.col("sd").alias("sd_b"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, "dim")
        .select(
            F.col("dim").cast("int"),
            F.round("mu_a", 6).alias("mu_a"),
            F.round("mu_b", 6).alias("mu_b"),
            F.round(F.abs(F.col("mu_a") - F.col("mu_b")), 6).alias("mean_shift"),
            F.round(
                F.abs(F.col("mu_a") - F.col("mu_b"))
                / F.sqrt(
                    F.col("sd_a") * F.col("sd_a") / F.col("n_a")
                    + F.col("sd_b") * F.col("sd_b") / F.col("n_b")
                ),
                4,
            ).alias("z_score"),
        )
        .orderBy("dim")
    )


@register(
    "doc_cosine_pairs_sparse",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, t AS token, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest({TOKS}) AS t FROM documents)
        GROUP BY doc_id, t),
    corpus AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
               FROM toks),
    dfreq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df
              FROM toks GROUP BY token),
    w AS (SELECT t.doc_id, t.token,
                 t.tf * ln((c.n + 1.0) / (d.df + 1.0)) AS w
          FROM toks t
          JOIN dfreq d ON d.token = t.token
          CROSS JOIN corpus c
          WHERE d.df * 10 <= c.n AND d.df <= 200),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
              FROM w GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(a.w * b.w) AS dot
        FROM w a JOIN w b
          ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT p.doc_a, p.doc_b,
           round(p.dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM pairs p
    JOIN norms na ON na.doc_id = p.doc_a
    JOIN norms nb ON nb.doc_id = p.doc_b
    WHERE round(p.dot / (na.nrm * nb.nrm), 6) >= 0.35
    ORDER BY doc_a, doc_b
    """,
    doc="sparse TF-IDF cosine document-pair similarity via an inverted "
    "index: postings (doc, token, tfidf) self-joined ON TOKEN (the "
    "classic term-at-a-time partial dot product), so cost is "
    "sum-over-tokens df^2 — bounded by dropping tokens in >10% of the "
    "corpus (stopword-df cap), never an all-pairs doc join.  "
    "Complements near_dup_pairs (unweighted Jaccard) with weighted "
    "similarity; idf = ln((N+1)/(df+1)).  The cap is BOTH relative "
    "(df<=10% of corpus) and absolute (df<=200): join cost is "
    "sum-over-tokens df^2, so an absolute posting-length bound is "
    "what actually caps the quadratic term as n grows — the 10x "
    "scale harness measured exponent 2.5 with the relative cap "
    "alone (its token-remapped replicas keep per-token df flat "
    "while n grows 10x, letting every replica-local stopword "
    "through).  Pair with prefix-filtering for lower thresholds.",
)
def doc_cosine_pairs_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    corpus = toks.agg(
        F.countDistinct("doc_id").cast("double").alias("n")
    )
    dfreq = toks.groupBy("token").agg(
        F.count("*").cast("double").alias("df")
    )
    w = (
        toks.join(dfreq, "token")
        .crossJoin(F.broadcast(corpus))
        .filter((F.col("df") * 10 <= F.col("n")) & (F.col("df") <= 200))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "token", F.col("w").alias("wb")
    )
    pairs = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.35)
        .orderBy("doc_a", "doc_b")
    )
