"""Corpus / warehouse diagnostics batch: blocked fuzzy entity
resolution, cascaded multi-resolution rollups, robust (MAD) outlier
gating, per-source KL-divergence drift, and top-p (nucleus) corpus
selection.

These widen the engine surface past SURVEY §2 in the direction a
training-data pipeline needs (reference has no analogs; the batch
parallels the curation/features modules).

Scale design notes (the 100 TB story per query):
- ``fuzzy_match_part_names``: entity resolution is done on the DISTINCT
  value relation, not the row relation — canonicalize first (one
  linear agg), fuzzy-join the tiny distinct set under a blocking key,
  then the match table is broadcast back if row-level linkage is
  needed.  The quadratic step only ever sees |distinct values|, which
  is vocabulary-bound, not corpus-bound.
- ``rollup_multires``: the hour rollup re-aggregates the MINUTE
  partials and the day rollup re-aggregates the HOUR partials (sums
  and counts — re-aggregatable moments, never avg), so the raw event
  scan happens exactly once regardless of how many resolutions are
  materialized.  This is the hypertable continuous-aggregate cascade.
- ``robust_outliers_mad``: two small per-key aggregations (median,
  then median absolute deviation) each reduce to |event_type| rows and
  broadcast back — no sort of the full relation, no window over it.
- ``kl_divergence_sources``: two linear token aggregations sharing one
  explode; the join is on token (vocabulary-sized relation), and the
  per-source / corpus totals are 1-row-per-group broadcasts.
- ``nucleus_corpus_selection``: one window per source ordered by
  (score desc, doc_id) — a single exchange on source; the 0.8 token
  budget is evaluated from the running sum, no second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.readers import load_table
from .catalog import register

from ..functions.text import TOKS_SQL as _TOKS  # noqa: E402


# ---------------------------------------------------------------------------
# Blocked fuzzy entity resolution (levenshtein over the distinct-value set)
# ---------------------------------------------------------------------------
@register(
    "fuzzy_match_part_names",
    sql="""
    WITH names AS (
        SELECT p_name, CAST(count(*) AS BIGINT) AS n_rows,
               split_part(p_name, ' ', 1) AS blk
        FROM part GROUP BY p_name),
    pairs AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
               a.n_rows AS rows_a, b.n_rows AS rows_b
        FROM names a JOIN names b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 3)
    SELECT name_a, name_b, dist, rows_a, rows_b
    FROM pairs ORDER BY name_a, name_b
    """,
    doc="blocked fuzzy entity resolution: canonicalize to the DISTINCT "
    "name relation (vocabulary-sized), block on the first token, and "
    "levenshtein-link within blocks (dist <= 3).  The quadratic "
    "candidate step never touches the row relation — at 100 TB the "
    "distinct agg is the only corpus-scale pass and the match table "
    "broadcasts back for row linkage.",
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count("*").alias("n_rows"))
        .withColumn("blk", F.split(F.col("p_name"), " ").getItem(0))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_rows").alias("rows_a"),
        "blk",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_rows").alias("rows_b"),
        "blk",
    )
    pairs = (
        a.join(b, on="blk")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .where(F.col("dist") <= 3)
    )
    return pairs.select("name_a", "name_b", "dist", "rows_a", "rows_b").orderBy(
        "name_a", "name_b"
    )


# ---------------------------------------------------------------------------
# Multi-resolution rollup cascade (minute -> hour -> day, partial reuse)
# ---------------------------------------------------------------------------
@register(
    "rollup_multires",
    sql="""
    WITH minutes AS (
        SELECT event_type, date_trunc('minute', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n, sum(value) AS sum_v
        FROM events GROUP BY event_type, bucket),
    hours AS (
        SELECT event_type, date_trunc('hour', bucket) AS bucket,
               CAST(sum(n) AS BIGINT) AS n, sum(sum_v) AS sum_v
        FROM minutes GROUP BY event_type, date_trunc('hour', bucket)),
    days AS (
        SELECT event_type, date_trunc('day', bucket) AS bucket,
               CAST(sum(n) AS BIGINT) AS n, sum(sum_v) AS sum_v
        FROM hours GROUP BY event_type, date_trunc('day', bucket))
    SELECT 'hour' AS resolution, event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           n, round(sum_v, 2) AS sum_value
    FROM hours
    UNION ALL
    SELECT 'day' AS resolution, event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           n, round(sum_v, 2) AS sum_value
    FROM days
    ORDER BY resolution, event_type, bucket
    """,
    doc="hypertable-style continuous-aggregate cascade: the hour rollup "
    "re-aggregates MINUTE partials and the day rollup re-aggregates "
    "HOUR partials (sum/count moments, never avg — avg is not "
    "re-aggregatable), so the raw scan happens once for all "
    "resolutions.  At 100 TB each cascade level shrinks the relation "
    "by the bucket ratio before the next shuffle.",
)
def rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    minutes = events.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("bucket")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_v"))
    hours = minutes.groupBy(
        "event_type", F.date_trunc("hour", "bucket").alias("bucket")
    ).agg(F.sum("n").alias("n"), F.sum("sum_v").alias("sum_v"))
    days = hours.groupBy(
        "event_type", F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("n").alias("n"), F.sum("sum_v").alias("sum_v"))

    def fmt(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"),
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n",
            # emit the re-aggregatable moment (sum), not sum/n: the
            # quotient can land exactly on a rounding boundary
            # (e.g. 3609.66/64 = 56.4009375) where sub-ulp summation
            # noise flips the 6th decimal across engines; the sum stays
            # on the inputs' 2-decimal grid, where rounding is safe
            F.round(F.col("sum_v"), 2).alias("sum_value"),
        )

    return fmt(hours, "hour").unionAll(fmt(days, "day")).orderBy(
        "resolution", "event_type", "bucket"
    )


# ---------------------------------------------------------------------------
# Robust outlier gate: median absolute deviation (MAD) z-scores
# ---------------------------------------------------------------------------
@register(
    "robust_outliers_mad",
    sql="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med_v
        FROM events GROUP BY event_type),
    mad AS (
        SELECT e.event_type,
               quantile_cont(abs(e.value - m.med_v), 0.5) AS mad_v
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type),
    scored AS (
        SELECT e.event_type,
               0.6745 * (e.value - m.med_v) / nullif(d.mad_v, 0) AS rz
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN abs(rz) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           round(avg(CASE WHEN abs(rz) > 3.5 THEN 1.0 ELSE 0.0 END), 6)
               AS outlier_share,
           round(max(abs(rz)), 6) AS max_abs_rz
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
    doc="robust outlier gate: per-type median + median-absolute-deviation "
    "(exact, interpolated percentiles in both engines), modified "
    "z = 0.6745*(v-med)/MAD, flag |z| > 3.5 (Iglewicz-Hoaglin).  Two "
    "small per-key aggs broadcast back onto the scan — no global sort "
    "or window over the event relation.",
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med_v")
    )
    # bounded: med/mad are one row per event_type — a tiny fixed enum
    mad = (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med_v), 0.5)").alias("mad_v"))
    )
    scored = (
        # bounded: one row per event_type (fixed enum)
        events.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn(
            "rz",
            F.lit(0.6745)
            * (F.col("value") - F.col("med_v"))
            / F.nullif(F.col("mad_v"), F.lit(0.0)),
        )
    )
    # when/otherwise (not a bare boolean cast): rz is NULL where MAD = 0,
    # and the oracle's CASE sends NULL to the ELSE branch — a null-skipping
    # avg would diverge on the share denominator
    flag = F.when(F.abs("rz") > 3.5, F.lit(1)).otherwise(F.lit(0))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(flag).alias("n_outliers"),
            F.round(F.avg(flag.cast("double")), 6).alias("outlier_share"),
            F.round(F.max(F.abs("rz")), 6).alias("max_abs_rz"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Per-source KL divergence vs the corpus unigram distribution
# ---------------------------------------------------------------------------
@register(
    "kl_divergence_sources",
    sql=f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS tok FROM documents),
    src_tok AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok),
    src_tot AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS tot
        FROM src_tok GROUP BY source),
    corpus_tok AS (
        SELECT tok, CAST(sum(c) AS BIGINT) AS cc FROM src_tok GROUP BY tok),
    corpus_tot AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot FROM corpus_tok)
    SELECT s.source,
           t.tot AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           round(sum((s.c * 1.0 / t.tot)
                     * ln((s.c * 1.0 / t.tot)
                          / (k.cc * 1.0 / x.ctot))), 6) AS kl_vs_corpus
    FROM src_tok s
    JOIN src_tot t USING (source)
    JOIN corpus_tok k USING (tok)
    CROSS JOIN corpus_tot x
    GROUP BY s.source, t.tot
    ORDER BY s.source
    """,
    doc="data-mix drift diagnostic: KL(source unigram dist || corpus "
    "unigram dist) per source, exact.  One explode feeds both "
    "aggregations; the join is on token (vocabulary-sized), totals are "
    "1-row-per-group broadcasts.  A source whose KL jumps batch-over-"
    "batch changed its token distribution (new crawler, new template).",
)
def kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(TX.tokens("text")).alias("tok"),
    )
    src_tok = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    src_tot = src_tok.groupBy("source").agg(F.sum("c").alias("tot"))
    corpus_tok = src_tok.groupBy("tok").agg(F.sum("c").alias("cc"))
    corpus_tot = corpus_tok.agg(F.sum("cc").alias("ctot"))
    p = F.col("c") / F.col("tot")
    q = F.col("cc") / F.col("ctot")
    return (
        # bounded: one row per source — a fixed handful of source labels
        src_tok.join(F.broadcast(src_tot), "source")
        .join(corpus_tok, "tok")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source", "tot")
        .agg(
            F.count("*").alias("n_distinct_tokens"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
        .select(
            "source",
            F.col("tot").alias("n_tokens"),
            "n_distinct_tokens",
            "kl_vs_corpus",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Top-p (nucleus) corpus selection per source
# ---------------------------------------------------------------------------
@register(
    "nucleus_corpus_selection",
    sql=f"""
    WITH scored AS (
        SELECT doc_id, source,
               len({_TOKS}) AS n_tokens,
               round(len(list_distinct({_TOKS})) * 1.0
                     / len({_TOKS}), 6) AS score
        FROM documents),
    ranked AS (
        SELECT source, doc_id, n_tokens, score,
               sum(n_tokens) OVER (PARTITION BY source
                                   ORDER BY score DESC, doc_id) AS cum_tokens,
               sum(n_tokens) OVER (PARTITION BY source) AS tot_tokens
        FROM scored),
    kept AS (
        SELECT * FROM ranked
        WHERE cum_tokens - n_tokens < 0.8 * tot_tokens)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           round(sum(n_tokens) * 1.0 / max(tot_tokens), 6) AS token_share,
           round(min(score), 6) AS min_score_kept
    FROM kept GROUP BY source ORDER BY source
    """,
    doc="top-p (nucleus) corpus selection: per source, keep the "
    "highest-quality documents (distinct-token ratio as the score, "
    "doc_id tie-break) until the running token budget reaches 80% of "
    "the source's tokens — the data-mix analog of nucleus sampling.  "
    "One window exchange per source; the budget test uses the running "
    "sum, no second pass.",
)
def nucleus_corpus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks).cast("double"), 6
        ).alias("score"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("source")
    ranked = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "tot_tokens", F.sum("n_tokens").over(wtot)
    )
    kept = ranked.where(
        F.col("cum_tokens") - F.col("n_tokens") < 0.8 * F.col("tot_tokens")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.round(
                F.sum("n_tokens") / F.max("tot_tokens").cast("double"), 6
            ).alias("token_share"),
            F.round(F.min("score"), 6).alias("min_score_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Forward as-of join: next purchase after each view
# ---------------------------------------------------------------------------
@register(
    "asof_forward_next_purchase",
    sql="""
    WITH v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    p AS (
        SELECT event_id AS p_event_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'),
    ranked AS (
        SELECT v.event_id, v.user_id, v.ts, p.p_event_id, p.p_ts,
               row_number() OVER (PARTITION BY v.event_id
                   ORDER BY p.p_ts ASC, p.p_event_id ASC) AS rn
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id AND p.p_ts >= v.ts)
    SELECT event_id, user_id,
           p_event_id AS next_purchase_id,
           CAST((epoch_us(p_ts) - epoch_us(ts)) // 1000000 AS BIGINT)
               AS wait_seconds
    FROM ranked WHERE rn = 1
    ORDER BY event_id
    """,
    doc="FORWARD as-of join (operators/joins.asof_join direction="
    "'forward'): each view event linked to the user's next purchase at "
    "or after view time — time-to-convert.  Same single-shuffle "
    "union-merge carry plan as the backward form, scanned ts-descending; "
    "the oracle is the range-join + row_number pick.",
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import joins

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    j = joins.asof_join(
        views,
        purchases,
        left_ts="ts",
        right_ts="p_ts",
        left_by="user_id",
        right_by="p_user",
        tie_break="p_event_id",
        right_cols=["p_event_id", "p_ts"],
        direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("p_event_id").alias("next_purchase_id"),
        F.expr("(unix_micros(cast(p_ts as timestamp)) - unix_micros(cast(ts as timestamp))) div 1000000").alias(
            "wait_seconds"
        ),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Banded interval-overlap join: error bursts inside signup windows
# ---------------------------------------------------------------------------
@register(
    "interval_overlap_errors",
    sql="""
    WITH s AS (
        SELECT event_id AS s_id, ts AS s_ts,
               epoch_us(ts) AS a0, epoch_us(ts) + 300000000 AS a1
        FROM events WHERE event_type = 'signup'),
    e AS (
        SELECT event_id AS e_id,
               epoch_us(ts) AS b0, epoch_us(ts) + 60000000 AS b1
        FROM events WHERE event_type = 'error'),
    pairs AS (
        SELECT s.s_id, s.s_ts, e.e_id
        FROM s JOIN e ON s.a0 <= e.b1 AND e.b0 <= s.a1)
    SELECT strftime(date_trunc('hour', s_ts), '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT s_id) AS BIGINT) AS n_signups,
           CAST(count(DISTINCT e_id) AS BIGINT) AS n_errors
    FROM pairs GROUP BY hour ORDER BY hour
    """,
    doc="banded interval-overlap join (operators/joins."
    "interval_overlap_join): every error window [ts, ts+1m] overlapping "
    "a signup onboarding window [ts, ts+5m], rolled up per signup hour.  "
    "Banding (10-minute buckets) turns the theta join into an EQUI join "
    "on bucket id with an emit-once rule (the bucket holding the "
    "overlap's start) — no distinct pass, no broadcast-nested-loop; the "
    "oracle runs the naive theta join.",
)
def interval_overlap_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"),
        F.col("ts").alias("s_ts"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("a0"),
        (F.expr("unix_micros(cast(ts as timestamp))") + F.lit(300_000_000)).alias("a1"),
    )
    e = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("b0"),
        (F.expr("unix_micros(cast(ts as timestamp))") + F.lit(60_000_000)).alias("b1"),
    )
    pairs = interval_overlap_join(
        s, e, "a0", "a1", "b0", "b1", band=600_000_000
    )
    return (
        pairs.groupBy(
            F.date_format(F.date_trunc("hour", "s_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            )
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("s_id").alias("n_signups"),
            F.countDistinct("e_id").alias("n_errors"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + exact verification pass
# ---------------------------------------------------------------------------
@register(
    "heavy_hitter_tokens",
    sql=f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS item FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    cnts AS (
        SELECT item, CAST(count(*) AS BIGINT) AS cnt
        FROM toks GROUP BY item)
    SELECT item, cnt, round(cnt * 1.0 / n, 6) AS share
    FROM cnts CROSS JOIN tot
    WHERE cnt * 64 > n
    ORDER BY item
    """,
    doc="distributed heavy hitters (operators/sketches.py): per-partition "
    "Misra-Gries summaries (<= k counters each, mapInPandas) merged into "
    "a candidate set, then ONE exact pass restricted to candidates via "
    "broadcast semi-join.  The MG merge guarantee (undercount <= n/k) "
    "makes the freq > n/64 output exact and partitioning-independent, "
    "which is why a plain GROUP BY oracle checks it.  At 100 TB the "
    "win is state size: the exact agg's hash table is candidate-sized "
    "(partitions*k rows), never vocabulary-sized.",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters_exact

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.tokens("text")).alias("item")
    )
    return heavy_hitters_exact(toks, "item", k=64).orderBy("item")


# ---------------------------------------------------------------------------
# Triangle census over the exact near-dup graph
# ---------------------------------------------------------------------------
@register(
    "triangle_census_near_dup",
    sql=f"""
    WITH {TX.shingle_pairs_sql(0.7)},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
        GROUP BY v),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
    w AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
          FROM deg),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
    SELECT n_edges, n_triangles, n_wedges,
           round(3.0 * n_triangles / nullif(n_wedges, 0), 6) AS clustering
    FROM ne CROSS JOIN tri CROSS JOIN w
    """,
    doc="exact triangle census + global clustering coefficient over the "
    "near-dup similarity graph (operators/graph.triangle_stats): how "
    "CLIQUE-LIKE duplication neighborhoods are — template families "
    "triangle-close, chain-like drift does not.  Degree-ordered edge "
    "orientation (Suri-Vassilvitskii 2011) bounds the wedge fan-out to "
    "O(sqrt(m)) per node on power-law graphs; the oracle runs the naive "
    "a<b<c three-way join.",
)
def triangle_census_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup, graph

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_join(d, "text", "doc_id", threshold=0.7, k=3)
    return graph.triangle_stats(pairs)


# ---------------------------------------------------------------------------
# Real audio decode: WAV payload synthesis -> RIFF parse -> DSP features
# ---------------------------------------------------------------------------
@register(
    "audio_wav_features",
    sql=None,  # FFT-based features are not SQL-expressible; analytic
    # ground-truth is pinned in tests/test_diagnostics.py (dominant
    # frequency == synthesized frequency, RMS == amp/sqrt(2), ZCR == 2f/sr)
    doc="REAL multimodal decode path: deterministic 16-bit PCM WAV "
    "payloads (one pure sine per document, freq keyed by doc_id) are "
    "built as actual RIFF containers, decoded with the stdlib wave "
    "codec inside mapInPandas (operators/multimodal.decode_wav_features)"
    ", and reduced to per-frequency corpus stats.  Payload bytes stay "
    "columnar on executors; corrupt assets degrade to decode_ok=false "
    "rows instead of failing the pass.  This is the working reference "
    "implementation behind the image/video NotImplementedError seam.",
)
def audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_wav_features, synth_wav_bytes

    # deterministic asset sample: a bare limit() is partition-order
    # dependent; the id predicate pushes down to the scan instead
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 256)
    )

    import pandas as pd

    def synth(batches):
        for pdf in batches:
            payloads = [
                synth_wav_bytes(250.0 * (1 + int(d) % 8)) for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    wavs = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    feats = decode_wav_features(wavs)
    return (
        feats.where(F.col("decode_ok"))
        .groupBy("dominant_freq_hz")
        .agg(
            F.count("*").alias("n_assets"),
            F.round(F.avg("rms"), 4).alias("avg_rms"),
            F.round(F.avg("zero_cross_rate"), 4).alias("avg_zcr"),
            F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
        )
        .orderBy("dominant_freq_hz")
    )


def _peel_round_cte(i: int) -> str:
    """One unrolled 2-core peeling round: rem{i} = rem{i-1} plus every
    still-live node whose LIVE degree (edges to non-removed neighbors)
    fell under 2.  MATERIALIZED is load-bearing: each round references
    the previous one three times, and DuckDB inlines plain CTEs, which
    would re-expand the whole chain exponentially."""
    prev = f"rem{i - 1}"
    return f"""rem{i} AS MATERIALIZED (
        SELECT node FROM {prev}
        UNION
        SELECT n.node FROM nodes n
        WHERE n.node NOT IN (SELECT node FROM {prev})
          AND (SELECT count(*) FROM edges e
               WHERE e.a = n.node
                 AND e.b NOT IN (SELECT node FROM {prev})) < 2)"""


# Standard recursive CTEs are append-only, so delete-until-fixpoint
# can't recurse directly — instead the peeling is UNROLLED to a fixed
# depth with a SELF-CHECKING guard: if round N+1 would still remove a
# node (fixpoint not reached), the oracle raises via error() instead of
# silently returning a non-core.  Depth 16 covers a pendant chain of
# length ~32 (chains peel from both ends); near-dup graphs are
# near-cliques whose appendages peel in 1-3 rounds.
_PEEL_DEPTH = 16
_PEEL_ROUNDS = ",\n    ".join(
    _peel_round_cte(i) for i in range(1, _PEEL_DEPTH + 1)
)
_TWO_CORE_SQL = f"""
    WITH {TX.shingle_pairs_sql(0.7)},
    edges AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM edges),
    rem0 AS MATERIALIZED (
        SELECT a AS node FROM edges GROUP BY a HAVING count(*) < 2),
    {_PEEL_ROUNDS},
    survivors AS MATERIALIZED (
        SELECT node FROM nodes
        WHERE node NOT IN (SELECT node FROM rem{_PEEL_DEPTH})),
    not_converged AS (
        SELECT count(*) AS x FROM survivors s
        WHERE (SELECT count(*) FROM edges e
               WHERE e.a = s.node
                 AND e.b IN (SELECT node FROM survivors)) < 2)
    SELECT CAST(s.node AS BIGINT) AS node,
           CASE WHEN (SELECT x FROM not_converged) = 0
                THEN (SELECT CAST(count(*) AS BIGINT) FROM edges e
                      WHERE e.a = s.node
                        AND e.b IN (SELECT node FROM survivors))
                ELSE CAST(error('2-core peeling did not converge in '
                                '{_PEEL_DEPTH} unrolled rounds') AS BIGINT)
           END AS core_deg
    FROM survivors s
    ORDER BY node
    """


@register(
    "near_dup_2core",
    sql=_TWO_CORE_SQL,
    doc="2-core of the jaccard near-dup graph (operators/graph.k_core, "
    "iterative peeling with per-round localCheckpoint): the maximal "
    "subgraph where every doc keeps >= 2 near-dup neighbors — "
    "template FAMILIES, as opposed to incidental pairwise matches.  "
    "Output is (node, core_deg) ordered.  Oracle (r7): the peeling is "
    "UNROLLED to 16 materialized rounds over the shared pair-graph "
    "CTEs, with a fixpoint guard that error()s rather than silently "
    "diverging if 16 rounds were not enough — delete-until-fixpoint "
    "has no recursive-CTE form (CTEs are append-only), but a "
    "self-checking unrolling is differential-testable; planted-graph "
    "peeling semantics stay pinned in "
    "tests/test_operators.py::test_k_core_planted.",
)
def near_dup_2core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup, graph

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_join(d, "text", "doc_id", threshold=0.7, k=3)
    return graph.k_core(pairs, k=2).orderBy("node")


@register(
    "join_fanout_estimate",
    sql="""
    WITH ca AS (SELECT o_orderkey AS k, CAST(count(*) AS DOUBLE) AS na
                FROM orders GROUP BY k),
    cb AS (SELECT l_orderkey AS k, CAST(count(*) AS DOUBLE) AS nb
           FROM lineitem GROUP BY k),
    prof AS (SELECT ca.k, na, nb, na * nb AS fanout
             FROM ca JOIN cb ON cb.k = ca.k)
    SELECT CAST(count(*) AS BIGINT) AS matched_keys,
           CAST(sum(fanout) AS BIGINT) AS join_rows,
           CAST(max(fanout) AS BIGINT) AS max_key_fanout,
           round(sum(fanout) / count(*), 4) AS avg_key_fanout
    FROM prof
    """,
    doc="pre-join cardinality profile: the EXACT output size of "
    "orders x lineitem on orderkey, computed from per-key counts on "
    "each side (two vocabulary-grain aggregates + one key join on "
    "count relations — never the join itself).  join_rows = "
    "sum(na*nb); max_key_fanout is the skew red flag.  This is the "
    "'will this join explode' check you run BEFORE submitting a "
    "100 TB join — the two-table complement of key_skew_profile.",
)
def join_fanout_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ca = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").cast("double").alias("na")
    )
    cb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").cast("double").alias("nb")
    )
    prof = ca.join(cb, "k").select(
        "k", (F.col("na") * F.col("nb")).alias("fanout")
    )
    return prof.agg(
        F.count("*").alias("matched_keys"),
        F.sum("fanout").cast("long").alias("join_rows"),
        F.max("fanout").cast("long").alias("max_key_fanout"),
        F.round(F.sum("fanout") / F.count("*"), 4).alias("avg_key_fanout"),
    )


@register(
    "image_png_stats",
    sql=None,  # DEFLATE + scanline unfilter is not SQL-expressible;
    # the codec is pinned against an independent forward-filter
    # implementation and analytic solid/gradient ground truth in
    # tests/test_diagnostics.py
    doc="REAL image decode path: deterministic 8-bit RGB PNGs (solid "
    "color keyed by doc_id) are built as actual PNG containers "
    "(stdlib zlib/struct — signature, CRC-verified chunks, filtered "
    "scanlines), decoded with the pure-stdlib codec in "
    "operators/multimodal.decode_png_stats inside mapInPandas, and "
    "reduced to per-color corpus stats.  Payload bytes stay columnar "
    "on executors; corrupt assets degrade to decode_ok=false.  "
    "PNG joins WAV as a fully-real modality; JPEG/video remain the "
    "documented NotImplementedError seam (DCT codecs need real "
    "libraries).",
)
def image_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_png_stats, synth_png_bytes

    # deterministic asset sample: a bare limit() is partition-order
    # dependent; the id predicate pushes down to the scan instead
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 256)
    )

    import pandas as pd

    def synth(batches):
        for pdf in batches:
            payloads = [
                synth_png_bytes(
                    16, 16, ((int(d) * 37) % 256, (int(d) * 59) % 256,
                             (int(d) * 83) % 256)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    pngs = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    stats = decode_png_stats(pngs)
    return (
        stats.where(F.col("decode_ok"))
        .groupBy("width", "height", "channels")
        .agg(
            F.count("*").alias("n_assets"),
            F.round(F.avg("mean_r"), 4).alias("avg_r"),
            F.round(F.avg("mean_g"), 4).alias("avg_g"),
            F.round(F.avg("mean_b"), 4).alias("avg_b"),
            F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
        )
        .orderBy("width", "height", "channels")
    )


@register(
    "image_jpeg_stats",
    sql=None,  # huffman + IDCT is not SQL-expressible; the codec is
    # pinned against the independent forward implementation (encoder)
    # and analytic solid/gradient truth in tests/test_diagnostics.py
    doc="REAL JPEG decode path: deterministic baseline JFIF images "
    "(solid color keyed by doc_id, built by the independent stdlib "
    "ENCODER operators/multimodal.synth_jpeg_bytes — RGB->YCbCr, "
    "forward DCT, Annex-K quantization, canonical huffman) are "
    "decoded with the pure-stdlib DECODER decode_jpeg (marker walk, "
    "stream-embedded tables, dequantize, IDCT, restart/4:2:0 aware) "
    "inside mapInPandas and reduced to per-color corpus stats.  "
    "Payloads stay columnar on executors; corrupt assets degrade to "
    "decode_ok=false.  JPEG joins PNG and WAV as a fully-real "
    "modality — the remaining NotImplementedError seam is video "
    "codecs only (H.264 needs ffmpeg).  Solid JPEG blocks are "
    "DC-only, so decoded channel means sit within one quantization "
    "step of the synthesized color (asserted in tests).",
)
def image_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_jpeg_stats, synth_jpeg_bytes

    # deterministic asset sample (see image_png_stats note)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 256)
    )

    import pandas as pd

    def synth(batches):
        for pdf in batches:
            payloads = [
                synth_jpeg_bytes(
                    16, 16, ((int(d) * 37) % 256, (int(d) * 59) % 256,
                             (int(d) * 83) % 256)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    jpgs = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    stats = decode_jpeg_stats(jpgs)
    return (
        stats.where(F.col("decode_ok"))
        .groupBy("width", "height", "channels")
        .agg(
            F.count("*").alias("n_assets"),
            F.round(F.avg("mean_r"), 4).alias("avg_r"),
            F.round(F.avg("mean_g"), 4).alias("avg_g"),
            F.round(F.avg("mean_b"), 4).alias("avg_b"),
            F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
        )
        .orderBy("width", "height", "channels")
    )


@register(
    "image_near_dup_phash",
    sql=None,  # PNG/JPEG decode is not SQL-expressible; the planted-clone
    # pair set (re-encoded / brightness-shifted / 1-px-cropped clones
    # pair, distinct textures do not) is pinned exactly in
    # tests/test_imagehash.py, and the hamming-join machinery is
    # differentially tested against a brute-force all-pairs scan there
    doc="Perceptual image near-dup (the pixel-content modality of the "
    "dedup lattice): one smooth 64x64 grayscale texture per document "
    "(md5-keyed, operators/imagehash.synth_texture_gray) encoded as a "
    "REAL PNG, with a planted near-duplicate for 3 of every 4 docs — "
    "brightness-shifted (+12), 1-px-cropped, or round-tripped through "
    "the REAL baseline-JPEG 4:2:0 encoder.  Assets are dHashed "
    "(decode -> Rec.601 luma -> 8x9 area resize -> neighbor-gradient "
    "bits) in Arrow-batched mapInPandas, then paired by Multi-Index "
    "Hashing (Norouzi et al., CVPR 2012): 4x16-bit bands + 1-bit probe "
    "enumeration guarantees every hamming<=7 pair collides on an exact "
    "65k-bucket band key (~120x fewer candidates than the naive "
    "8x8-bit-band pigeonhole).  Decode+hash shuffles nothing; only the "
    "16-byte (id, hash) relation enters the join.  Measured margins "
    "(600 textures): brightness shifts hash identically, JPEG "
    "round-trips land within 4 bits, 1-px crops within 7 for ~99% of "
    "textures (the residual is the crop sensitivity every 64-bit "
    "dHash shares — tested against the local reference hashes, not "
    "assumed away), distinct textures stay >= 12 apart.",
)
def image_near_dup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators import dedup
    from ..operators.imagehash import (
        image_phash,
        phash_near_pairs,
        synth_texture_gray,
    )
    from ..operators.multimodal import encode_jpeg_planes, encode_png_gray

    # corpus-scaled (no id cap): one base asset per document plus the
    # planted variant — the whole fixture replicates with the corpus,
    # so the scale sweep measures the operator, not a literal cap.
    # Repartition the NARROW id relation to cores before the
    # Python-heavy synth/decode stage: a small parquet ships as one
    # split, which would serialize the per-asset work onto one core
    # (8 bytes/row shuffled here vs payload bytes, which never move);
    # production payload scans arrive pre-split across many files.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                g = synth_texture_gray(d, 64)
                ids.append(d * 10)
                payloads.append(encode_png_gray(g))
                v = d % 4
                if v == 1:  # brightness shift (never clips: levels <= 215)
                    ids.append(d * 10 + 1)
                    payloads.append(encode_png_gray(g + 12.0))
                elif v == 2:  # 1-px horizontal crop
                    ids.append(d * 10 + 2)
                    payloads.append(encode_png_gray(g[:, 1:]))
                elif v == 3:  # real JPEG 4:2:0 re-encode
                    ids.append(d * 10 + 3)
                    payloads.append(
                        encode_jpeg_planes(
                            [g, np.full_like(g, 128.0), np.full_like(g, 128.0)],
                            64,
                            64,
                            subsample=True,
                        )
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                }
            )

    assets = docs.mapInPandas(synth, schema="asset_id bigint, payload binary")
    hashes = image_phash(assets, id_col="asset_id").where(F.col("decode_ok"))
    pairs = phash_near_pairs(hashes, max_hamming=7)
    # persist the (tiny) pair result before the presentation sort: a
    # global orderBy samples its child for range partitioning, which
    # would re-execute the decode+hash+join tail
    return dedup._persist(
        pairs.select(
            F.col("doc_a").alias("asset_a"),
            F.col("doc_b").alias("asset_b"),
            "hamming",
        )
    ).orderBy("asset_a", "asset_b")


@register(
    "video_mjpeg_frame_stats",
    sql=None,  # container parse + JPEG huffman/IDCT not SQL-expressible;
    # sampling semantics + analytic gray-level truth pinned in tests
    doc="REAL MJPEG-style video path: length-prefixed containers of "
    "real baseline JPEG frames (operators/multimodal."
    "synth_mjpeg_video_bytes) parsed in mapInPandas, every 4th frame "
    "decoded with the pure-stdlib JPEG codec (signature-dispatched by "
    "decode_image) and fanned out 1:N; unsampled frames are SKIPPED "
    "via the length prefixes, never decoded.  With PNG and JPEG both "
    "real, video-as-a-column is real up to the container layer — the "
    "remaining seam is INTER-frame codecs (H.264 via ffmpeg) only.",
)
def video_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        sample_video_frames,
        synth_mjpeg_video_bytes,
    )

    # deterministic asset sample (see image_png_stats note)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 128)
    )

    import pandas as pd

    def synth(batches):
        for pdf in batches:
            payloads = [
                synth_mjpeg_video_bytes(12, base=int(d) % 256)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    frames = sample_video_frames(vids, every_k=4)
    return (
        frames.where(F.col("decode_ok"))
        .groupBy("frame_idx")
        .agg(
            F.count("*").alias("n_frames"),
            F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
            F.round(F.min("mean_luma"), 4).alias("min_luma"),
            F.round(F.max("mean_luma"), 4).alias("max_luma"),
        )
        .orderBy("frame_idx")
    )


@register(
    "video_frame_sample_stats",
    sql=None,  # container parse + PNG inflate is not SQL-expressible;
    # sampling semantics + analytic luma pinned in tests
    doc="REAL video frame sampling: length-prefixed containers of real "
    "PNG frames (operators/multimodal.synth_png_video_bytes) parsed "
    "in mapInPandas, every 4th frame decoded with the pure-stdlib PNG "
    "codec and fanned out 1:N — unsampled frames are SKIPPED via the "
    "length prefixes, never decoded (decode cost ∝ sampled frames: "
    "the economics of frame sampling at 100 TB).  Output: per "
    "frame-position corpus luma stats.  The industry-codec layer "
    "(H.264 via ffmpeg) remains the documented seam; every other "
    "mechanic of video-as-a-column is exercised for real.",
)
def video_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        sample_video_frames,
        synth_png_video_bytes,
    )

    # deterministic asset sample (see image_png_stats note)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 128)
    )

    import pandas as pd

    def synth(batches):
        for pdf in batches:
            payloads = [
                synth_png_video_bytes(12, base=int(d) % 256)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    frames = sample_video_frames(vids, every_k=4)
    return (
        frames.where(F.col("decode_ok"))
        .groupBy("frame_idx")
        .agg(
            F.count("*").alias("n_frames"),
            F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
            F.round(F.min("mean_luma"), 4).alias("min_luma"),
            F.round(F.max("mean_luma"), 4).alias("max_luma"),
        )
        .orderBy("frame_idx")
    )


@register(
    "image_resize_stats",
    sql=None,  # PNG inflate/unfilter is not SQL-expressible; the resize
    # itself is pinned against analytic box-average/nearest ground truth
    # in tests/test_diagnostics.py (solid = exact color, gradient = exact
    # block means, non-divisible dims = exact index-map picks)
    doc="REAL image RESIZE path (the resize leg of the multimodal "
    "decode/feature/resize/frame-sample quartet): deterministic 8-bit "
    "RGB PNGs keyed by doc_id — solid for even ids, horizontal "
    "gradient for odd, 5x5 sources every fifth id to exercise the "
    "non-divisible path — are decoded with the pure-stdlib codec and "
    "downsampled to 4x4 inside one Arrow-batched mapInPandas "
    "(operators/multimodal.resize_png_stats): exact BOX AVERAGE when "
    "dims divide evenly, floor-index NEAREST otherwise.  Reduced to "
    "per-(method, src size) corpus stats including an int64 checksum "
    "of every rounded resized pixel, so the reduction pins full pixel "
    "content.  Payload bytes stay columnar on executors; corrupt "
    "assets degrade to decode_ok=false.",
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import resize_png_stats, synth_png_bytes

    # deterministic asset sample (see image_png_stats note)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 256)
    )

    import pandas as pd

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                side = 5 if d % 5 == 0 else 16
                payloads.append(
                    synth_png_bytes(
                        side,
                        side,
                        ((d * 37) % 256, (d * 59) % 256, (d * 83) % 256),
                        gradient=(d % 2 == 1),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    pngs = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    stats = resize_png_stats(pngs, out_w=4, out_h=4)
    return (
        stats.where(F.col("decode_ok"))
        .groupBy("method", "src_w", "src_h")
        .agg(
            F.count("*").alias("n_assets"),
            F.round(F.avg("mean_r"), 4).alias("avg_r"),
            F.round(F.avg("mean_g"), 4).alias("avg_g"),
            F.round(F.avg("mean_b"), 4).alias("avg_b"),
            F.sum("checksum").alias("checksum_sum"),
        )
        .orderBy("method", "src_w", "src_h")
    )


@register(
    "audio_near_dup_fingerprint",
    sql=None,  # rFFT band energies are not SQL-expressible; the planted
    # pair set (gain-scaled / noise-added / gain+noise clones pair,
    # distinct material does not) and the pure-float gain-invariance
    # ANALYTIC truth (BER exactly 0) are pinned in
    # tests/test_audiofp.py, and the probe-join candidate machinery is
    # differentially tested against a brute-force all-pairs BER scan
    doc="Perceptual audio near-dup (the audio-content modality of the "
    "dedup lattice): one 0.5 s broadband md5-keyed clip per document "
    "(48 amplitude-modulated sinusoids, operators/audiofp.synth_audio) "
    "encoded as a REAL 16-bit mono PCM WAV, with a planted "
    "near-duplicate for 3 of every 4 docs — gain 0.8x (band-energy "
    "difference SIGNS are invariant under gain: BER 0 in pure float, "
    "<= 0.003 through int16 quantization), additive md5 noise at "
    "-38 dB (BER <= 0.022, >= 10 of 13 frames within 1 bit), or gain "
    "1.2x + noise.  Clips are fingerprinted Haitsma-Kalker style "
    "(ISMIR 2002) in Arrow-batched mapInPandas — Hann-windowed rFFT, "
    "33 log-spaced bands over 300-2000 Hz, one 32-bit sub-fingerprint "
    "per frame from time-frequency difference signs — then paired by "
    "the paper's search step as an equi-join: exact (frame, subfp) "
    "match with exhaustive 1-bit probe enumeration (33 keys/frame), "
    "aligned bit-error-rate verification on candidates only.  "
    "Decode+FFT shuffles nothing; only the (id, frame, int32) "
    "relation enters the join.  Distinct material sits at BER >= "
    "0.39 vs the 0.25 threshold.",
)
def audio_near_dup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators import dedup
    from ..operators.audiofp import (
        audio_fingerprints,
        audio_near_dup_pairs,
        encode_wav,
        synth_audio,
        synth_noise,
    )

    # corpus-scaled (no id cap), ids repartitioned to cores before the
    # Python-heavy synth/FFT stage (see image_near_dup_phash note)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                x = synth_audio(d) * 0.4  # peak <= 0.21 incl. 1.2x gain
                ids.append(d * 10)
                payloads.append(encode_wav(x))
                v = d % 4
                if v == 1:  # pure gain: difference signs invariant
                    ids.append(d * 10 + 1)
                    payloads.append(encode_wav(0.8 * x))
                elif v == 2:  # additive broadband noise at -38 dB
                    ids.append(d * 10 + 2)
                    payloads.append(
                        encode_wav(x + 0.4 * synth_noise(d, len(x), 0.005))
                    )
                elif v == 3:  # gain + gentler noise
                    ids.append(d * 10 + 3)
                    payloads.append(
                        encode_wav(
                            1.2 * x
                            + 0.4 * synth_noise(d + 9999, len(x), 0.003)
                        )
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                }
            )

    clips = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    fps = audio_fingerprints(clips)
    pairs = audio_near_dup_pairs(fps, max_ber=0.25)
    # persist the (tiny) pair result before the presentation sort (a
    # global orderBy samples its child for range partitioning, which
    # would re-execute the decode+FFT+join tail)
    return dedup._persist(
        pairs.select("doc_a", "doc_b", "n_frames", "exact_matches", "ber")
    ).orderBy("doc_a", "doc_b")


@register(
    "video_near_dup_signature",
    sql=None,  # PNG/JPEG frame decode is not SQL-expressible; the
    # planted pair set (brightness-shifted / per-frame-JPEG-re-encoded /
    # both clones pair, distinct videos do not) is pinned against local
    # reference signatures in tests/test_videofp.py, and the grouped
    # MIH join is differentially tested against brute force there
    doc="Perceptual video near-dup (the temporal modality of the dedup "
    "lattice, composing the image family with the frame-sampling "
    "economics): one 6-frame 32x32 video per document — smooth "
    "md5-keyed textures per frame in the length-prefixed container "
    "operators/multimodal.sample_video_frames walks — with a planted "
    "near-duplicate for 3 of every 4 docs: brightness-shifted (+12, "
    "dHash-identical frames), per-frame REAL JPEG 4:2:0 re-encode "
    "(<= 4 bits/frame measured over 300 textures), or both.  Frames "
    "0/2/4 are sampled (unsampled frames are never decoded — the "
    "container's length prefixes let the parser skip their bytes, the "
    "economics that make video fingerprinting viable at 100 TB), "
    "dHashed per frame, paired per frame by grouped Multi-Index "
    "Hashing, and a video pair is kept iff matched frames cover >= "
    "0.8 of the longer signature.  Distinct textures sit >= 20 bits "
    "apart per frame vs the 7-bit threshold.",
)
def video_near_dup_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators import dedup
    from ..operators.imagehash import (
        build_video_container,
        synth_texture_gray,
        video_dhash_signatures,
        video_near_dup_pairs,
    )
    from ..operators.multimodal import encode_jpeg_planes, encode_png_gray

    # corpus-scaled (no id cap), ids repartitioned to cores before the
    # Python-heavy synth/decode stage (see image_near_dup_phash note)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    N_FRAMES, SIZE = 6, 32

    def synth(batches):
        def jpeg(g):
            return encode_jpeg_planes(
                [g, np.full_like(g, 128.0), np.full_like(g, 128.0)],
                SIZE,
                SIZE,
                subsample=True,
            )

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                grays = [
                    synth_texture_gray(d * 100 + i, SIZE)
                    for i in range(N_FRAMES)
                ]
                ids.append(d * 10)
                payloads.append(
                    build_video_container([encode_png_gray(g) for g in grays])
                )
                v = d % 4
                if v == 1:  # brightness shift: dHash-identical frames
                    ids.append(d * 10 + 1)
                    payloads.append(
                        build_video_container(
                            [encode_png_gray(g + 12.0) for g in grays]
                        )
                    )
                elif v == 2:  # real per-frame JPEG 4:2:0 re-encode
                    ids.append(d * 10 + 2)
                    payloads.append(
                        build_video_container([jpeg(g) for g in grays])
                    )
                elif v == 3:  # brightness + JPEG
                    ids.append(d * 10 + 3)
                    payloads.append(
                        build_video_container(
                            [jpeg(g + 12.0) for g in grays]
                        )
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                }
            )

    vids = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    sigs = video_dhash_signatures(vids, every_k=2)
    pairs = video_near_dup_pairs(sigs, max_hamming=7, min_frac=0.8)
    # persist the (tiny) pair result before the presentation sort (a
    # global orderBy samples its child for range partitioning, which
    # would re-execute the decode+hash+join tail)
    return dedup._persist(
        pairs.select(
            F.col("doc_a").alias("video_a"),
            F.col("doc_b").alias("video_b"),
            "n_matched",
            "match_frac",
            "mean_hamming",
        )
    ).orderBy("video_a", "video_b")
