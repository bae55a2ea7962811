"""Training-data curation pipeline (the north-star composition): the
§2.11 extension operators chained the way an LLM-data pipeline actually
uses them — normalize -> exact-dedup -> quality gate -> token accounting
-> stratified sampling — expressed as single lazy plans with oracles.

At 100 TB this shape is the daily job: every stage is a map or a
digest-keyed aggregation; nothing materializes between stages except
what the optimizer chooses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import fingerprint as FP
from ..functions import text as TX
from ..sources.readers import load_table
from .catalog import register

_STOPS = "', '".join(TX.EN_STOPWORDS)


@register(
    "curation_pipeline",
    sql=rf"""
    WITH fp AS (
        SELECT doc_id, lang, text,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    survivors AS (
        SELECT * FROM fp
        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
    scored AS (
        SELECT doc_id, lang,
               len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
               (least(length(text) / 500.0, 1.0)
                + (1.0 - least(4.0 * (length(text) - length(regexp_replace(text,
                      '[^\w\s]', '', 'g'))) / greatest(length(text), 1), 1.0))
                + least(5.0 * CAST(len(list_filter(
                      regexp_split_to_array(trim(lower(text)), '\s+'),
                      t -> list_contains(['{_STOPS}'], t))) AS DOUBLE)
                    / greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1), 1.0)
               ) / 3 AS quality
        FROM survivors)
    SELECT lang,
           CAST(count(*) AS BIGINT)       AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)  AS total_tokens,
           round(avg(quality), 4)         AS avg_quality
    FROM scored
    WHERE quality >= 0.5
    GROUP BY lang
    ORDER BY lang
    """,
    doc="the curation composition: fingerprint dedup (min-id survivor) -> "
    "quality gate (>= 0.5) -> per-language document/token accounting. "
    "One plan: a digest-keyed window, map-side feature expressions, one "
    "final small aggregate.",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp").orderBy("doc_id")
    survivors = (
        d.withColumn("fp", TX.fingerprint("text"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    scored = survivors.select(
        "lang",
        TX.token_count("text").alias("n_tokens"),
        TX.quality_score("text").alias("quality"),
    )
    return (
        scored.filter(F.col("quality") >= 0.5)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@register(
    "stratified_sample",
    sql="""
    WITH tagged AS (
        SELECT lang,
               CASE WHEN ((doc_id % 1000003) * 2654435761) % 100 < 20
                    THEN 1 ELSE 0 END AS sampled
        FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT)     AS n_total,
           CAST(sum(sampled) AS BIGINT) AS n_sampled
    FROM tagged
    GROUP BY lang
    ORDER BY lang
    """,
    doc="deterministic stratified sampling (training-data subsetting): "
    "a multiplicative-hash bucket on the id keeps ~20% per stratum, "
    "reproducible across engines and reruns — no rand(), no "
    "sampleBy-seed engine coupling.  The id is reduced mod a prime "
    "BEFORE the multiply so the product stays inside int64 in every "
    "engine (Spark non-ANSI would silently wrap for ids above ~3.5e9 "
    "while wider-integer engines would not — a divergence and a skew).",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sampled = (((F.col("doc_id") % 1000003) * 2654435761) % 100 < 20).cast("int")
    return (
        d.select("lang", sampled.alias("sampled"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("sampled").cast("bigint").alias("n_sampled"),
        )
        .orderBy("lang")
    )


from ..functions.text import TOKS_SQL as _TOKS  # noqa: E402
_SQUEEZED = r"regexp_replace(trim(lower(text)), '\s+', '', 'g')"


@register(
    "gopher_quality_signals",
    sql=rf"""
    WITH feats AS (
        SELECT source,
               len({_TOKS}) AS n_tokens,
               length({_SQUEEZED}) * 1.0 / greatest(len({_TOKS}), 1) AS mwl,
               (len({_TOKS}) - len(list_distinct({_TOKS}))) * 1.0
                 / greatest(len({_TOKS}), 1) AS rep
        FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(mwl), 4) AS avg_mwl,
           round(avg(rep), 4) AS avg_rep,
           CAST(sum(CASE WHEN n_tokens BETWEEN 20 AND 100000
                          AND mwl BETWEEN 3 AND 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass
    FROM feats
    GROUP BY source
    ORDER BY source
    """,
    doc="Gopher-style quality gate signals per source: mean word length, "
    "token repetition fraction, and the count of docs passing the "
    "word-count+word-length gates. One map pass + one small aggregate — "
    "the shape of a 100 TB corpus-hygiene scan.",
)
def gopher_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "source",
        TX.token_count("text").alias("n_tokens"),
        TX.mean_word_length("text").alias("mwl"),
        TX.repetition_ratio("text").alias("rep"),
    )
    gate = (
        F.col("n_tokens").between(20, 100000) & F.col("mwl").between(3, 10)
    ).cast("int")
    return (
        feats.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("mwl"), 4).alias("avg_mwl"),
            F.round(F.avg("rep"), 4).alias("avg_rep"),
            F.sum(gate).cast("bigint").alias("n_pass"),
        )
        .orderBy("source")
    )


@register(
    "repetition_topk",
    sql=rf"""
    WITH feats AS (
        SELECT doc_id,
               len({_TOKS}) AS n_tokens,
               (len({_TOKS}) - len(list_distinct({_TOKS}))) * 1.0
                 / greatest(len({_TOKS}), 1) AS rep,
               CASE WHEN len({_TOKS}) >= 2 THEN
                 (len({_TOKS}) - 1 - len(list_distinct([
                      array_to_string(({_TOKS})[i:i+1], ' ')
                      for i in range(1, len({_TOKS}))
                  ]))) * 1.0 / (len({_TOKS}) - 1)
               ELSE 0.0 END AS bigram_rep
        FROM documents)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(rep, 6) AS rep, round(bigram_rep, 6) AS bigram_rep
    FROM feats
    ORDER BY round(bigram_rep, 6) DESC, doc_id ASC
    LIMIT 20
    """,
    doc="most-repetitive documents (boilerplate/spam surfacing): top-20 "
    "by bigram repetition fraction with token-level repetition "
    "alongside. TakeOrderedAndProject — no full sort at scale.",
)
def repetition_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            TX.token_count("text").cast("bigint").alias("n_tokens"),
            F.round(TX.repetition_ratio("text"), 6).alias("rep"),
            F.round(TX.bigram_repetition_ratio("text"), 6).alias("bigram_rep"),
        )
        .orderBy(F.col("bigram_rep").desc(), F.col("doc_id").asc())
        .limit(20)
    )


_PII_PLANTS = [
    (9000001, "contact me at alice.smith+spam@example.co.uk or 555-123-4567"),
    (9000002, "server 10.0.0.1 fell over, ping 192.168.1.254 instead"),
    (9000003, "mail bob@corp.io, backup bob.backup@corp.io, cell 333.444.5555"),
]
_PII_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _PII_PLANTS)


@register(
    "pii_scrub_audit",
    sql=rf"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_PII_VALUES}) v(doc_id, text)),
    scrubbed AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_email,
               len(regexp_extract_all(text,
                   '\b\d{{3}}[-.]\d{{3}}[-.]\d{{4}}\b')) AS n_phone,
               len(regexp_extract_all(
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                       '<EMAIL>', 'g'),
                     '\b\d{{3}}[-.]\d{{3}}[-.]\d{{4}}\b', '<PHONE>', 'g'),
                   '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b')) AS n_ip,
               md5(regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                         '<EMAIL>', 'g'),
                       '\b\d{{3}}[-.]\d{{3}}[-.]\d{{4}}\b', '<PHONE>', 'g'),
                     '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b',
                     '<IP>', 'g')) AS scrub_md5
        FROM corpus),
    sfp AS (
        SELECT doc_id % 64 AS shard, count(*) AS n,
               sum(n_email) AS e, sum(n_phone) AS p, sum(n_ip) AS i,
               sum(CASE WHEN n_email + n_phone + n_ip > 0
                        THEN 1 ELSE 0 END) AS w,
               md5(string_agg(scrub_md5, '|' ORDER BY doc_id)) AS fp
        FROM scrubbed GROUP BY 1)
    SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs,
           CAST(sum(e) AS BIGINT) AS total_emails,
           CAST(sum(p) AS BIGINT) AS total_phones,
           CAST(sum(i) AS BIGINT) AS total_ips,
           CAST(sum(w) AS BIGINT) AS n_docs_with_pii,
           md5(string_agg(fp, '|' ORDER BY shard)) AS corpus_scrub_md5
    FROM sfp
    """,
    doc="PII scrub audit: email/phone/IPv4 detection + typed-placeholder "
    "redaction over the corpus plus planted fixture rows (the synthetic "
    "corpus is PII-free, so the plants make the oracle pin the regex "
    "semantics cross-engine, including the md5 of every scrubbed text). "
    "Map-only; the scrub composes into any ingest plan.",
)
def pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plants = spark.createDataFrame(_PII_PLANTS, "doc_id long, text string")
    corpus = d.unionByName(plants)
    scrubbed = corpus.select(
        "doc_id",
        TX.pii_count("text", TX.EMAIL_RE).alias("n_email"),
        TX.pii_count("text", TX.PHONE_RE).alias("n_phone"),
        # count IPs on the same email+phone-scrubbed intermediate the
        # real scrub sees (shared helper keeps the pass order in sync)
        TX.pii_count(TX.scrub_email_phone("text"), TX.IPV4_RE).alias("n_ip"),
        F.md5(TX.scrub_pii("text")).alias("scrub_md5"),
    )
    # two-level sharded corpus hash (functions/fingerprint.py): the
    # counting legs keep map-side partials, and the per-doc digests
    # reduce per shard instead of through one global collect_list
    return FP.corpus_fp_agg(
        scrubbed,
        order="doc_id",
        digest="scrub_md5",
        shard_key="doc_id",
        sums=(
            (F.col("n_email"), "total_emails"),
            (F.col("n_phone"), "total_phones"),
            (F.col("n_ip"), "total_ips"),
            (
                ((F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0)
                .cast("int"),
                "n_docs_with_pii",
            ),
        ),
        count_alias="n_docs",
        fp_alias="corpus_scrub_md5",
    ).select(
        "n_docs",
        "total_emails",
        "total_phones",
        "total_ips",
        "n_docs_with_pii",
        "corpus_scrub_md5",
    )


# shared by contamination_check and contamination_bloom, which is served
# by contamination_check
_CONTAMINATION_ORACLE_SQL = r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3)
    SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
           CAST(len(list_intersect(c.shingles, b.shingles)) AS BIGINT) AS n_shared
    FROM sh c JOIN sh b ON c.doc_id >= 20 AND b.doc_id < 20
    WHERE len(list_intersect(c.shingles, b.shingles)) >= 3
    ORDER BY doc_id, bench_id
    """


@register(
    "contamination_check",
    sql=_CONTAMINATION_ORACLE_SQL,
    doc="benchmark decontamination: corpus docs sharing >= 3 distinct "
    "word 3-grams with a benchmark set (here: the 20 lowest-id docs "
    "standing in for an eval suite). The benchmark's exploded shingles "
    "are broadcast, so the 100 TB corpus is one streamed map pass — no "
    "corpus shuffle, no all-pairs.",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 20)
    bench = d.filter(F.col("doc_id") < 20)
    return dedup.contamination_pairs(
        corpus, bench, "text", "doc_id", k=3, min_shared=3
    ).orderBy("doc_id", "bench_id")


@register(
    "contamination_bloom",
    sql=_CONTAMINATION_ORACLE_SQL,
    doc="benchmark decontamination under its older name, kept registered "
    "so existing callers of queries() still find it. Served by "
    "contamination_check, so rows, schema and oracle are identical.",
)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    return contamination_check(spark, sf_dir)


@register(
    "incremental_dedup",
    sql=r"""
    WITH store AS (
        SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM documents WHERE doc_id < 400),
    batch AS (
        SELECT lang,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM documents WHERE doc_id >= 400)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN fp IN (SELECT fp FROM store)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_store,
           CAST(sum(CASE WHEN fp IN (SELECT fp FROM store)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM batch
    GROUP BY lang
    ORDER BY lang
    """,
    doc="incremental (cross-run) dedup: a new batch (doc_id >= 400) is "
    "checked against the historical fingerprint store (doc_id < 400) "
    "with a digest-keyed join — the daily-ingest shape where the store "
    "is a bucketed fingerprint table and only 16-byte digests move.",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    store = (
        d.filter(F.col("doc_id") < 400)
        .select(TX.fingerprint("text").alias("fp"))
        .distinct()
        .withColumn("in_store", F.lit(1))
    )
    batch = d.filter(F.col("doc_id") >= 400).select(
        "lang", TX.fingerprint("text").alias("fp")
    )
    tagged = batch.join(store, "fp", "left")
    dup = F.when(F.col("in_store").isNotNull(), 1).otherwise(0)
    return (
        tagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_new"),
            F.sum(dup).cast("bigint").alias("n_dup_vs_store"),
            F.sum(1 - dup).cast("bigint").alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "chunk_documents",
    sql=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents WHERE doc_id < 50),
    chunks AS (
        SELECT doc_id,
               CAST(s // 48 AS INT) AS chunk_id,
               array_to_string(t[s + 1 : s + 64], ' ') AS chunk
        FROM toks, unnest(range(0, greatest(len(t), 1), 48)) AS u(s)
        WHERE s < len(t))
    SELECT doc_id, chunk_id,
           CAST(len(regexp_split_to_array(chunk, '\s+')) AS INT) AS n_chunk_tokens,
           md5(chunk) AS chunk_md5
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
    doc="context-window chunking (pre-training pack precursor): 64-token "
    "windows every 48 tokens (16-token overlap), final window may be "
    "short. Pure expression chunking + posexplode — a map-only pass "
    "with zero shuffle at any corpus size. md5 per chunk makes the "
    "window boundaries byte-comparable cross-engine.",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        d.select(
            "doc_id",
            F.posexplode(TX.token_chunks("text", 64, 48)).alias("chunk_id", "chunk"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int"),
            F.size(F.split("chunk", r"\s+")).cast("int").alias("n_chunk_tokens"),
            F.md5("chunk").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "token_histogram",
    sql=r"""
    SELECT CAST(least(len(regexp_split_to_array(trim(lower(text)), '\s+')) // 16, 8)
                AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
                AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="token-count histogram (training-data budgeting): docs bucketed "
    "by tokens//16 capped at 8+. Map + tiny aggregate; the corpus-level "
    "token accounting every data-mix decision starts from.",
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = TX.token_count("text")
    return (
        d.select(
            F.least(F.floor(n / 16), F.lit(8)).cast("bigint").alias("bucket"),
            n.alias("n_tokens"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "compression_quality",
    sql=None,  # zlib output is library-version dependent: rows-only
    doc="compression-ratio quality signal (boilerplate detector): "
    "per-source average zlib ratio and the count of highly-redundant "
    "docs (ratio < 0.4), via an Arrow-batched pandas UDF — the "
    "demonstration of the vectorized-UDF surface for signals with no "
    "JVM expression equivalent. Rows-only by design.",
)
def compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ratio = TX.compression_ratio_udf()(F.col("text"))
    return (
        d.select("source", ratio.alias("ratio"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("ratio"), 4).alias("avg_ratio"),
            F.sum((F.col("ratio") < 0.4).cast("int")).cast("bigint").alias("n_redundant"),
        )
        .orderBy("source")
    )


@register(
    "weighted_mix",
    sql="""
    WITH rated AS (
        SELECT source,
               CASE WHEN source IN ('src0', 'src2') THEN 50
                    WHEN source = 'src1' THEN 25
                    ELSE 10 END AS rate,
               ((doc_id % 1000003) * 2654435761) % 100 AS bucket
        FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rated
    GROUP BY source
    ORDER BY source
    """,
    doc="training-data mix resampling: per-source keep-rates (50%/25%/"
    "10%) applied via the same int64-safe multiplicative hash as "
    "stratified_sample — a deterministic, rerun-stable data-mix "
    "downsampler (no rand(), no seed coupling).",
)
def weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src2"), 50)
        .when(F.col("source") == "src1", 25)
        .otherwise(10)
    )
    bucket = ((F.col("doc_id") % 1000003) * 2654435761) % 100
    return (
        d.select("source", rate.alias("rate"), bucket.alias("bucket"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum((F.col("bucket") < F.col("rate")).cast("int"))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


@register(
    "dup_span_fraction",
    sql=r"""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct([
                   array_to_string(toks[i:i+7], ' ')
                   for i in range(1, greatest(len(toks) - 7, 0) + 1)
               ])) AS gram
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
    df AS (
        SELECT gram, count(*) AS n_docs FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           round(sum(CASE WHEN d.n_docs > 1 THEN 1.0 ELSE 0.0 END)
                 / count(*), 6) AS dup_frac
    FROM grams g JOIN df d ON d.gram = g.gram
    GROUP BY g.doc_id
    """,
    doc="cross-document duplicated-span signal (RefinedWeb-style): the "
    "fraction of each document's DISTINCT word-8-grams that also occur "
    "in at least one other document. 8-grams are built in one "
    "shuffle-free codegen map stage (zip-of-shifted-slices) and hashed "
    "to int64, so the document-frequency aggregation shuffles 8-byte "
    "keys; the per-doc fraction is a second small aggregation. Linear "
    "in corpus size — the scalable form of exact-substring "
    "contamination scoring.",
)
def dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    d = load_table(spark, sf_dir, "documents")
    grams = dedup.hashed_shingle_rows(d, "text", "doc_id", k=8).distinct()
    df_counts = grams.groupBy("shingle_h").agg(
        F.count("*").alias("n_docs")
    )
    return (
        grams.join(df_counts, "shingle_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum((F.col("n_docs") > 1).cast("bigint")).alias("n_dup"),
            F.round(
                F.sum((F.col("n_docs") > 1).cast("double")) / F.count("*"), 6
            ).alias("dup_frac"),
        )
    )


@register(
    "perplexity_proxy",
    sql=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents),
    vocab AS (
        SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    total AS (SELECT sum(cnt) AS n FROM vocab)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(v.cnt / total.n)), 6) AS cross_entropy
    FROM tok t
    JOIN vocab v ON v.term = t.term
    CROSS JOIN total
    GROUP BY t.doc_id
    """,
    doc="corpus-unigram cross-entropy per document (a perplexity proxy "
    "without a trained LM): vocab = one term-keyed aggregate over the "
    "corpus, total = 1-row broadcast, per-doc score = mean -ln p(term) "
    "over token instances. High values flag out-of-distribution or "
    "noisy documents; the vocabulary join is term-keyed and map-side "
    "combinable, so the whole signal costs two shuffles.",
)
def perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    vocab = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    return (
        tok.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("cnt") / F.col("n"))), 6).alias(
                "cross_entropy"
            ),
        )
    )


@register(
    "dedup_quality_survivors",
    sql=r"""
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.7),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    clusters AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a),
    ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id ASC)
                   AS rn,
               count(*) OVER (PARTITION BY c.cluster_id) AS n_members
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           doc_id AS survivor_doc_id,
           n_chars AS survivor_n_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
    doc="quality-aware near-dup survivor selection: connected components "
    "over the Jaccard>=0.7 pair graph (min-label propagation), each "
    "cluster keeping its LONGEST member (n_chars, ties to the smallest "
    "doc_id) via one max(struct) aggregate — the curation policy 'keep "
    "the richest copy' instead of exact_dedup's min-id rule. Oracle: "
    "recursive-CTE transitive closure + row_number survivor.",
)
def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_join(d, "text", "doc_id", threshold=0.7, k=3)
    clusters = dedup.pair_clusters(pairs)
    return (
        clusters.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("best"),
            F.count("*").alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("survivor_doc_id"),
            F.col("best.n_chars").alias("survivor_n_chars"),
            "n_members",
        )
    )


@register(
    "ngram_novelty",
    sql=r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3),
    rows_ AS (
        SELECT doc_id, unnest(shingles) AS g FROM sh),
    df_ AS (
        SELECT g, count(*) AS n_docs FROM rows_ GROUP BY g)
    SELECT r.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (d.n_docs = 1) AS BIGINT) AS n_novel,
           round(CAST(count(*) FILTER (d.n_docs = 1) AS DOUBLE) / count(*), 6)
               AS novelty
    FROM rows_ r JOIN df_ d USING (g)
    GROUP BY r.doc_id
    ORDER BY doc_id
    """,
    doc="cross-document n-gram NOVELTY per doc: the fraction of a "
    "document's distinct 3-shingles that appear in NO other document — "
    "the inter-doc repetition signal that catches boilerplate and "
    "template farms near-dup pair mining misses (a doc can be 30% "
    "boilerplate without any single pair clearing a Jaccard threshold). "
    "Two digest-keyed aggregations (document frequency on the 8-byte "
    "shingle hash, then per-doc roll-up) — no pair join, linear at "
    "100 TB. Low-novelty docs are downweighted or dropped in the mix.",
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    d = load_table(spark, sf_dir, "documents")
    rows = dedup.hashed_shingle_rows(d, "text", "doc_id", k=3).distinct()
    dfreq = rows.groupBy("shingle_h").agg(F.count("*").alias("n_docs"))
    return (
        rows.join(dfreq, "shingle_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "length_outlier_flags",
    sql=r"""
    WITH tok AS (
        SELECT doc_id, lang,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents),
    bounds AS (
        SELECT quantile_cont(n_tokens, 0.05) AS lo,
               quantile_cont(n_tokens, 0.995) AS hi
        FROM tok)
    SELECT t.doc_id, t.lang, t.n_tokens,
           round(b.lo, 4) AS p5_tokens,
           round(b.hi, 4) AS p995_tokens,
           CASE WHEN t.n_tokens < b.lo THEN 'too_short'
                WHEN t.n_tokens > b.hi THEN 'too_long'
                ELSE 'keep' END AS flag
    FROM tok t CROSS JOIN bounds b
    ORDER BY doc_id
    """,
    doc="corpus-relative length outlier filter: flag docs below the 5th "
    "or above the 99.5th token-length percentile — the distribution-"
    "aware truncation/fragment gate (absolute cutoffs misfire across "
    "domains; percentiles adapt per corpus). The two exact percentiles "
    "reduce to ONE broadcast row joined back to the scan — a 1-row "
    "broadcast nested loop, not a repartition; percentile_approx is the "
    "drop-in at 100 TB.",
)
def length_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.size(TX.tokens("text")).cast("bigint").alias("n_tokens")
    )
    bounds = tok.agg(
        F.percentile("n_tokens", F.lit(0.05)).alias("lo"),
        F.percentile("n_tokens", F.lit(0.995)).alias("hi"),
    )
    return (
        tok.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round("lo", 4).alias("p5_tokens"),
            F.round("hi", 4).alias("p995_tokens"),
            F.when(F.col("n_tokens") < F.col("lo"), "too_short")
            .when(F.col("n_tokens") > F.col("hi"), "too_long")
            .otherwise("keep")
            .alias("flag"),
        )
        .orderBy("doc_id")
    )


@register(
    "mix_temperature_weights",
    sql=r"""
    WITH tok AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
                    AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY lang),
    tot AS (
        SELECT sum(n_tokens) AS t_all, sum(pow(n_tokens, 0.7)) AS z
        FROM tok)
    SELECT lang, n_docs, n_tokens,
           round(n_tokens / t.t_all, 6)            AS natural_p,
           round(pow(n_tokens, 0.7) / t.z, 6)      AS sample_p,
           round((pow(n_tokens, 0.7) / t.z)
                 / (n_tokens / t.t_all), 4)        AS upsample_factor
    FROM tok CROSS JOIN tot t
    ORDER BY lang
    """,
    doc="temperature-scaled data-mix weights (alpha=0.7, the "
    "multilingual-sampling exponent): per-language token counts -> "
    "natural frequency p_l, flattened sampling probability "
    "p_l^a/sum(p^a), and the implied up/downsampling factor. One "
    "aggregation + one broadcast 1-row total — the planning step whose "
    "output feeds weighted_mix's keep-rates. Deterministic arithmetic, "
    "oracle-checked.",
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(TX.tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = tok.agg(
        F.sum("n_tokens").alias("t_all"),
        F.sum(F.pow("n_tokens", F.lit(0.7))).alias("z"),
    )
    return (
        tok.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("t_all"), 6).alias("natural_p"),
            F.round(F.pow("n_tokens", F.lit(0.7)) / F.col("z"), 6).alias("sample_p"),
            F.round(
                (F.pow("n_tokens", F.lit(0.7)) / F.col("z"))
                / (F.col("n_tokens") / F.col("t_all")),
                4,
            ).alias("upsample_factor"),
        )
        .orderBy("lang")
    )


@register(
    "bigram_lm_perplexity",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS ts FROM documents),
    bg AS (
        SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        FROM toks, LATERAL unnest(generate_series(1, len(ts) - 1)) AS g(i)
        WHERE len(ts) >= 2),
    big_counts AS (
        SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
        FROM bg GROUP BY w1, w2),
    uni_counts AS (
        SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY w1),
    vocab AS (
        SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bg),
    scored AS (
        SELECT b.doc_id,
               ln((k.c12 + 1.0) / (u.c1 + t.v)) AS logp
        FROM bg b
        JOIN big_counts k ON k.w1 = b.w1 AND k.w2 = b.w2
        JOIN uni_counts u ON u.w1 = b.w1
        CROSS JOIN vocab t)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(logp), 4) AS avg_nll
    FROM scored GROUP BY doc_id
    ORDER BY avg_nll DESC, doc_id
    LIMIT 25
    """,
    doc="true bigram language-model scoring (the statistical cousin of "
    "the zlib perplexity_proxy): train add-1-smoothed bigram "
    "probabilities p(w2|w1) = (c12+1)/(c1+V) on the corpus itself, "
    "score every document by average negative log-likelihood, and "
    "surface the 25 most 'surprising' docs — the LM-based outlier "
    "screen for boilerplate/glitch text.  Counts are two linear "
    "aggregations at bigram/unigram vocabulary grain; scoring is two "
    "broadcast-friendly equi joins.  Higher avg_nll = less like the "
    "corpus.",
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", TX.tokens("text").alias("ts")).filter(
        F.size("ts") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    big_counts = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c12")
    )
    uni_counts = bg.groupBy("w1").agg(F.count("*").cast("double").alias("c1"))
    vocab = bg.agg(F.countDistinct("w2").cast("double").alias("v"))
    scored = (
        bg.join(big_counts, ["w1", "w2"])
        .join(uni_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))).alias(
                "logp"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.avg("logp"), 4).alias("avg_nll"),
        )
        .orderBy(F.desc("avg_nll"), F.asc("doc_id"))
        .limit(25)
    )


@register(
    "boilerplate_chunks",
    sql=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
    chunks AS (
        SELECT doc_id,
               array_to_string(t[s + 1 : s + 64], ' ') AS chunk
        FROM toks, unnest(range(0, greatest(len(t), 1), 48)) AS u(s)
        WHERE s < len(t)),
    grouped AS (
        SELECT md5(chunk) AS chunk_md5,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM chunks GROUP BY chunk_md5)
    SELECT chunk_md5, n_occurrences, n_docs
    FROM grouped
    WHERE n_docs >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, chunk_md5
    LIMIT 20
    """,
    doc="boilerplate-paragraph detection: the SAME 64-token chunking "
    "as chunk_documents (over the FULL corpus), chunks digested and "
    "grouped — a chunk appearing in >= 2 distinct documents is "
    "template/boilerplate text (headers, footers, license blocks), "
    "the sub-document duplication that document-level dedup cannot "
    "see and the #1 reason trained models parrot navigation chrome.  "
    "Chunking is a map-only pass; the shuffle moves 16-byte digests.",
)
def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id",
        F.explode(TX.token_chunks("text", 64, 48)).alias("chunk"),
    )
    grouped = chunks.groupBy(F.md5("chunk").alias("chunk_md5")).agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        grouped.filter(F.col("n_docs") >= 2)
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("chunk_md5")
        )
        .limit(20)
    )


_SEG = 8  # tokens per dedup segment (CCNet-style sub-document granularity)


@register(
    "segment_dedup_reassembly",
    sql=rf"""
    WITH segs AS (
        SELECT doc_id, u.s AS seg_idx,
               md5(array_to_string(
                   toks[u.s * {_SEG} + 1 : u.s * {_SEG} + {_SEG}], ' ')) AS h
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t,
             unnest([{{'s': s}} for s in
                     range(0, CAST(ceil(len(toks) / {_SEG}.0) AS INT))]) AS v(u)),
    firsts AS (
        SELECT h, min({{'d': doc_id, 's': seg_idx}}) AS first_key
        FROM segs GROUP BY h),
    flagged AS (
        SELECT s.doc_id, s.seg_idx, s.h,
               ({{'d': s.doc_id, 's': s.seg_idx}} = f.first_key) AS kept
        FROM segs s JOIN firsts f ON s.h = f.h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN kept THEN h END, '|'
                                   ORDER BY seg_idx), '')) AS kept_fp
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="CCNet-style SUB-document dedup with reassembly: each document "
    "splits into fixed 8-token segments, a segment survives only at its "
    "globally FIRST occurrence (min (doc_id, seg_idx), deterministic), "
    "and every document is re-assembled from its surviving segments in "
    "order — the shape line-level / paragraph-level corpus dedup takes "
    "when boilerplate repeats across pages.  Scale: the explode emits "
    "(doc_id, seg_idx, md5) rows — 16-byte digests, never text; "
    "first-occurrence is a digest-keyed groupBy-min (map-side combine; "
    "a mega-duplicated segment is ONE group, no skew amplification "
    "because the join-back right side is distinct digests); reassembly "
    "is a doc-keyed aggregation whose fingerprint md5s the ordered "
    "surviving-segment digests, so the oracle checks the reassembled "
    "CONTENT, not just counts.  First-occurrence keying is a struct "
    "min over (doc_id, seg_idx) — deterministic and unbounded (no "
    "arithmetic-key overflow at any document length); both engines "
    "use the identical lexicographic struct comparison.",
)
def segment_dedup_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _persist

    d = load_table(spark, sf_dir, "documents")
    # persisted: consumed by BOTH the first-occurrence aggregate and the
    # join-back — without it the corpus is tokenized + md5'd twice (the
    # shdoc idiom dup_span_removal already uses for its gram relation).
    segs = _persist(
        d.select("doc_id", TX.tokens("text").alias("toks")).select(
            "doc_id",
            F.posexplode(TX.segment_hashes(F.col("toks"), _SEG)).alias(
                "seg_idx", "h"
            ),
        )
    )
    _key = F.struct(F.col("doc_id").alias("d"), F.col("seg_idx").alias("s"))
    firsts = segs.groupBy("h").agg(F.min(_key).alias("first_key"))
    flagged = segs.join(firsts, "h").select(
        "doc_id",
        "seg_idx",
        "h",
        (_key == F.col("first_key")).alias("kept"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("kept"),
                                    F.struct(
                                        F.col("seg_idx").alias("i"),
                                        F.col("h").alias("h"),
                                    ),
                                )
                            )
                        ),
                        lambda x: x["h"],
                    ),
                    "|",
                )
            ).alias("kept_fp"),
        )
        .orderBy("doc_id")
    )



@register(
    "segment_ingest_dedup",
    sql=rf"""
    WITH segs AS (
        SELECT doc_id, u.s AS seg_idx,
               md5(array_to_string(
                   toks[u.s * {_SEG} + 1 : u.s * {_SEG} + {_SEG}], ' ')) AS h
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t,
             unnest([{{'s': s}} for s in
                     range(0, CAST(ceil(len(toks) / {_SEG}.0) AS INT))]) AS v(u)),
    corpus_h AS (
        SELECT DISTINCT h FROM segs WHERE doc_id % 5 != 0)
    SELECT s.doc_id,
           CAST(s.seg_idx AS BIGINT) AS seg_idx,
           s.h
    FROM segs s LEFT JOIN corpus_h c ON s.h = c.h
    WHERE s.doc_id % 5 = 0 AND c.h IS NULL
    ORDER BY s.doc_id, s.seg_idx
    """,
    doc="sub-document dedup at INGEST (streaming/windows."
    "segment_dedup_stream run batch-side — tests/test_streaming.py pins "
    "stream==batch on the identical plan): incoming documents "
    "(doc_id % 5 = 0) keep only the 8-token segments NOT already in the "
    "historical corpus (doc_id % 5 != 0) — the boilerplate-stripping "
    "crawler front-end.  Stateless: row-local segmentation + md5, one "
    "stream-static left_anti join on the 16-byte digest (append mode, "
    "no watermark, retry-idempotent).  The digests are md5, so the "
    "oracle replays the ENTIRE path — segmentation, corpus digest set, "
    "anti-join — and hash-checks the surviving segments themselves.",
)
def segment_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import segment_dedup_stream

    d = load_table(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return (
        segment_dedup_stream(incoming, corpus, seg=_SEG)
        .select("doc_id", F.col("seg_idx").cast("bigint").alias("seg_idx"), "h")
        .orderBy("doc_id", "seg_idx")
    )


@register(
    "dup_span_removal",
    sql=r"""
    WITH base AS (
        SELECT doc_id, toks FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents)
        WHERE len(toks) >= 8),
    gpos AS (
        SELECT doc_id, u.i AS p,
               CAST('0x' || substr(md5('dspan|' ||
                    array_to_string(toks[u.i : u.i + 7], ' ')), 1, 15)
                    AS BIGINT) AS h
        FROM base, unnest([{'i': i}
                           for i in range(1, len(toks) - 7 + 1)]) AS v(u)),
    dupg AS (
        SELECT h FROM gpos GROUP BY h
        HAVING min(doc_id) != max(doc_id)),
    dps AS (
        SELECT doc_id, list_sort(list(DISTINCT p)) AS dp
        FROM gpos JOIN dupg USING (h) GROUP BY doc_id),
    per AS (
        SELECT b.doc_id, b.toks,
               coalesce(d.dp, CAST([] AS INTEGER[])) AS dp
        FROM base b LEFT JOIN dps d USING (doc_id))
    SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len([p for p in dp
                  if len([q for q in dp if q >= p - 8 AND q < p]) = 0])
             AS BIGINT) AS n_spans,
        CAST(len([i for i in range(1, len(toks) + 1)
                  if len([p for p in dp if p <= i AND i <= p + 7]) > 0])
             AS BIGINT) AS tokens_removed,
        md5(coalesce(array_to_string(
            [toks[i] for i in range(1, len(toks) + 1)
             if len([p for p in dp if p <= i AND i <= p + 7]) = 0], ' '), ''))
            AS surviving_md5
    FROM per ORDER BY doc_id
    """,
    doc="exact-substring dedup REWRITE (Lee et al. 2022 'Deduplicating "
    "Training Data Makes Language Models Better', the span-removal "
    "step): every word-8-gram occurring in MORE THAN ONE document "
    "marks its 8-token span; overlapping/adjacent spans merge into "
    "maximal ranges, the covered tokens are REMOVED, and each "
    "document re-assembles from the survivors — the rewrite "
    "dup_span_fraction only scores.  Scale: grams hash to md5 in one "
    "row-local generator (the shuffle carries 16-byte digests), "
    "cross-doc duplication is one digest-keyed aggregate, and span "
    "merging + reconstruction are row-local array HOFs over each "
    "doc's BOUNDED duplicated-position list — no window, no "
    "self-join.  Grams hash to the portable 60-bit md5 fold in BOTH "
    "engines (so even a collision cannot diverge the differential), "
    "cross-doc duplication is min(doc_id) != max(doc_id) — a plain "
    "hash aggregate, no count-distinct expansion — and the gram "
    "relation is persisted across its two consumers (the dup-set "
    "aggregate and the position join), the shdoc idiom from the "
    "jaccard path.  The suffix-array construction of the paper is an "
    "offline index; this fixed-n form is its linear one-pass "
    "map-reduce equivalent (n=8 spans, the paper's 50-token analog "
    "at this corpus's scale).  The oracle replays positions, span "
    "merge, and the md5 of every reassembled document.",
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", TX.tokens("text").alias("toks")).filter(
        F.size("toks") >= 8
    )
    per = base.join(_span_positions(base), "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce("dp", F.array().cast("array<int>")).alias("dp"),
    )
    dp = F.col("dp")
    idxs = F.sequence(F.lit(1), F.size("toks"))
    cov = _span_cov(dp)
    # q >= p - 8: a head at p-8 covers p-8..p-1, contiguous with p..p+7,
    # so exactly-adjacent spans merge into one maximal range (the doc's
    # "overlapping/adjacent" claim holds literally).
    n_spans = F.size(
        F.filter(dp, lambda p: ~F.exists(dp, lambda q: (q >= p - 8) & (q < p)))
    )
    return per.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        n_spans.cast("bigint").alias("n_spans"),
        F.size(F.filter(idxs, cov)).cast("bigint").alias("tokens_removed"),
        F.md5(F.array_join(_span_surviving(F.col("toks"), dp), " ")).alias(
            "surviving_md5"
        ),
    ).orderBy("doc_id")


def _span_positions(base8: DataFrame) -> DataFrame:
    """(doc_id, dp) — sorted 1-based head positions of cross-document
    duplicated word-8-grams, for ``base8`` = (doc_id, toks) rows with
    >= 8 tokens.  The shared core of ``dup_span_removal`` and
    ``dedup_pipeline_roi``: gram relation persisted across its two
    consumers (dup-set aggregate + position join), duplication decided
    by min(doc_id) != max(doc_id) — no count-distinct Expand."""
    from ..operators.dedup import _md5_hash60, _persist, _spread

    gpos = _persist(
        _spread(base8).select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 7),
                    lambda i: _md5_hash60(
                        F.array_join(F.slice(F.col("toks"), i, 8), " "),
                        "dspan",
                    ),
                )
            ).alias("p0", "h"),
        ).select("doc_id", (F.col("p0") + 1).alias("p"), "h")
    )
    dupg = (
        gpos.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    return (
        gpos.join(dupg, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("p")).alias("dp"))
    )


def _span_cov(dp):
    """Predicate factory: is 1-based token index i covered by any
    duplicated span head p in ``dp`` (spans are 8 tokens: p..p+7)."""
    return lambda i: F.exists(dp, lambda p: (p <= i) & (i <= p + 7))


def _span_surviving(toks, dp):
    """Tokens of ``toks`` NOT covered by any span in ``dp``, in order —
    the rewritten document (row-local HOFs, no shuffle)."""
    cov = _span_cov(dp)
    return F.transform(
        F.filter(F.sequence(F.lit(1), F.size(toks)), lambda i: ~cov(i)),
        lambda i: F.element_at(toks, i),
    )


@register(
    "dedup_pipeline_roi",
    sql=r"""
    WITH RECURSIVE raw0 AS (
        SELECT doc_id, text,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS nfp
        FROM documents),
    e AS (
        SELECT doc_id, text, toks, nfp FROM raw0
        QUALIFY row_number() OVER (PARTITION BY nfp ORDER BY doc_id) = 1),
    gpos AS (
        SELECT doc_id, u.i AS p,
               CAST('0x' || substr(md5('dspan|' ||
                    array_to_string(toks[u.i : u.i + 7], ' ')), 1, 15)
                    AS BIGINT) AS h
        FROM e, unnest([{'i': i}
                        for i in range(1, len(toks) - 7 + 1)]) AS v(u)
        WHERE len(toks) >= 8),
    dupg AS (
        SELECT h FROM gpos GROUP BY h
        HAVING min(doc_id) != max(doc_id)),
    dps AS (
        SELECT doc_id, list_sort(list(DISTINCT p)) AS dp
        FROM gpos JOIN dupg USING (h) GROUP BY doc_id),
    per AS (
        SELECT e.doc_id, e.toks,
               coalesce(d.dp, CAST([] AS INTEGER[])) AS dp
        FROM e LEFT JOIN dps d USING (doc_id)),
    rtext AS (
        SELECT doc_id, stoks,
               coalesce(array_to_string(stoks, ' '), '') AS rew_text,
               len(stoks) AS n_toks
        FROM (SELECT doc_id,
                     [toks[i] for i in range(1, len(toks) + 1)
                      if len([p for p in dp
                              if p <= i AND i <= p + 7]) = 0] AS stoks
              FROM per)),
    sh AS (
        SELECT doc_id, list_distinct([
                   array_to_string(t2[i:i+2], ' ')
                   for i in range(1, greatest(len(t2) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(rew_text)), '\s+') AS t2
              FROM rtext)
        WHERE len(t2) >= 3),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.7),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
    clusters AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a),
    best AS (
        SELECT cluster_id, doc_id AS survivor_doc_id FROM (
            SELECT c.cluster_id, c.doc_id,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY r.n_toks DESC, c.doc_id ASC)
                       AS rn
            FROM clusters c JOIN rtext r USING (doc_id))
        WHERE rn = 1),
    dropped AS (
        SELECT c.doc_id FROM clusters c JOIN best b USING (cluster_id)
        WHERE c.doc_id != b.survivor_doc_id),
    fin AS (
        SELECT r.* FROM rtext r LEFT JOIN dropped dr USING (doc_id)
        WHERE dr.doc_id IS NULL),
    fp0 AS (
        SELECT doc_id % 64 AS shard, count(*) AS n,
               sum(len(toks)) AS t,
               md5(string_agg(nfp, '|' ORDER BY doc_id)) AS fp
        FROM raw0 GROUP BY 1),
    fp1 AS (
        SELECT doc_id % 64 AS shard, count(*) AS n,
               sum(len(toks)) AS t,
               md5(string_agg(nfp, '|' ORDER BY doc_id)) AS fp
        FROM e GROUP BY 1),
    fp2 AS (
        SELECT doc_id % 64 AS shard, count(*) AS n,
               sum(n_toks) AS t,
               md5(string_agg(md5(rew_text), '|' ORDER BY doc_id)) AS fp
        FROM rtext GROUP BY 1),
    fp3 AS (
        SELECT doc_id % 64 AS shard, count(*) AS n,
               sum(n_toks) AS t,
               md5(string_agg(md5(rew_text), '|' ORDER BY doc_id)) AS fp
        FROM fin GROUP BY 1)
    SELECT * FROM (
        SELECT 0 AS stage_ord, 'raw' AS stage,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs,
               CAST(sum(t) AS BIGINT) AS n_tokens,
               md5(string_agg(fp, '|' ORDER BY shard)) AS corpus_fp
        FROM fp0
        UNION ALL
        SELECT 1, 'exact_dedup',
               CAST(coalesce(sum(n), 0) AS BIGINT),
               CAST(sum(t) AS BIGINT),
               md5(string_agg(fp, '|' ORDER BY shard))
        FROM fp1
        UNION ALL
        SELECT 2, 'span_removal',
               CAST(coalesce(sum(n), 0) AS BIGINT),
               CAST(sum(t) AS BIGINT),
               md5(string_agg(fp, '|' ORDER BY shard))
        FROM fp2
        UNION ALL
        SELECT 3, 'near_dup_survivors',
               CAST(coalesce(sum(n), 0) AS BIGINT),
               CAST(sum(t) AS BIGINT),
               md5(string_agg(fp, '|' ORDER BY shard))
        FROM fp3)
    ORDER BY stage_ord
    """,
    doc="the dedup-ROI readout a real curator runs before a training "
    "job: exact dedup -> cross-doc duplicated-span REMOVAL -> near-dup "
    "clustering on the REWRITTEN text (Jaccard >= 0.7, keep the "
    "longest member) -> per-stage corpus accounting.  One row per "
    "stage with surviving doc count, surviving token count, and an "
    "ordered whole-corpus content fingerprint — the TWO-LEVEL sharded "
    "md5 of functions/fingerprint.py (per-shard ordered digest md5, "
    "then md5 over the <=64 shard fps; no per-doc digest ever funnels "
    "through one task), so the oracle checks every stage's full "
    "CONTENT, not just counts.  Composes the existing operators "
    "only: operators/dedup.drop_exact_dups (normalized-md5 key), the "
    "shared _span_positions/_span_surviving core of dup_span_removal, "
    "operators/dedup.jaccard_join (prefix+positional filter, no "
    "all-pairs) and pair_clusters (log-diameter min-label "
    "propagation).  Scale: every stage is a digest-keyed aggregate or "
    "an equi-join; stage boundaries persist only the skinny (doc_id, "
    "tokens) relations each next stage actually re-reads; nothing "
    "quadratic anywhere (the oracle's all-pairs jaccard is the "
    "DuckDB replay, not the plan).",
)
def dedup_pipeline_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    d = load_table(spark, sf_dir, "documents")
    raw = dedup._persist(
        d.select(
            "doc_id",
            "text",
            TX.tokens("text").alias("toks"),
            TX.fingerprint("text").alias("nfp"),
        )
    )
    # stage 1: exact dedup on the normalized-text fingerprint
    e = dedup._persist(dedup.drop_exact_dups(raw, "text", "doc_id"))
    # stage 2: remove cross-doc duplicated 8-gram spans WITHIN survivors
    dps = _span_positions(
        e.filter(F.size("toks") >= 8).select("doc_id", "toks")
    )
    per = e.join(dps, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce("dp", F.array().cast("array<int>")).alias("dp"),
    )
    rew = dedup._persist(
        per.select(
            "doc_id",
            _span_surviving(F.col("toks"), F.col("dp")).alias("stoks"),
        ).select(
            "doc_id",
            F.array_join("stoks", " ").alias("rew_text"),
            F.size("stoks").cast("bigint").alias("n_toks"),
        )
    )
    # stage 3: near-dup clusters on the rewritten text; keep the longest
    # member per cluster (ties -> smallest doc_id), like
    # dedup_quality_survivors but length-of-rewrite aware
    pairs = dedup.jaccard_join(rew, "rew_text", "doc_id", threshold=0.7, k=3)
    clusters = dedup.pair_clusters(pairs)
    best = (
        clusters.join(rew.select("doc_id", "n_toks"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("n_toks"), (-F.col("doc_id")).alias("ni"))
            ).alias("b")
        )
        .select("cluster_id", (-F.col("b.ni")).alias("survivor_doc_id"))
    )
    dropped = (
        clusters.join(best, "cluster_id")
        .filter(F.col("doc_id") != F.col("survivor_doc_id"))
        .select("doc_id")
    )
    fin = rew.join(dropped, "doc_id", "left_anti")

    def _stage(df, ord_, name, tok_expr, fp_inner):
        # two-level sharded fingerprint: no per-doc digest ever reaches
        # a single task (the r10-verdict 100x hazard); NULL fp on an
        # empty stage matches DuckDB (the r10 ADVICE divergence)
        return FP.corpus_fp_agg(
            df,
            order="doc_id",
            digest=fp_inner,
            shard_key="doc_id",
            sums=((tok_expr, "n_tokens"),),
            count_alias="n_docs",
        ).select(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
            "corpus_fp",
        )

    s0 = _stage(raw, 0, "raw", F.size("toks"), F.col("nfp"))
    s1 = _stage(e, 1, "exact_dedup", F.size("toks"), F.col("nfp"))
    s2 = _stage(rew, 2, "span_removal", F.col("n_toks"), F.md5("rew_text"))
    s3 = _stage(
        fin, 3, "near_dup_survivors", F.col("n_toks"), F.md5("rew_text")
    )
    # persist the 4-row stage table before the presentation sort: the
    # range partitioner's sampling job would otherwise re-execute the
    # four stage aggregations (the near_dup_pairs orderBy lesson)
    from ..operators.dedup import _persist as _p

    return _p(
        s0.unionByName(s1).unionByName(s2).unionByName(s3)
    ).orderBy("stage_ord")


# --------------------------------------------------------------------------
# The full curator path: quality -> PII -> dedup -> decontam -> mix -> pack
# --------------------------------------------------------------------------
_TCR_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_TCR_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_TCR_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_TCR_SCRUB = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{_TCR_EMAIL}', '<EMAIL>', 'g'), "
    f"'{_TCR_PHONE}', '<PHONE>', 'g'), "
    f"'{_TCR_IP}', '<IP>', 'g')"
)
_TCR_SEQ_LEN = 128
_TCR_FP = (
    "SELECT doc_id % 64 AS shard, count(*) AS n, sum({tok}) AS t, "
    "md5(string_agg({dig}, '|' ORDER BY doc_id)) AS fp FROM {rel} GROUP BY 1"
)
_TCR_STAGE = (
    "SELECT {ord} AS stage_ord, '{name}' AS stage, "
    "CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs, "
    "CAST(sum(t) AS BIGINT) AS n_tokens, "
    "md5(string_agg(fp, '|' ORDER BY shard)) AS corpus_fp FROM fp{ord}"
)


@register(
    "training_corpus_roi",
    sql=rf"""
    WITH raw0 AS (
        SELECT doc_id, source, text,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
               md5(text) AS h0
        FROM documents WHERE doc_id >= 20),
    bench AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS btoks
        FROM documents WHERE doc_id < 20),
    q AS (
        SELECT * FROM raw0
        WHERE len(toks) BETWEEN 20 AND 100000
          AND length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) * 1.0
              / greatest(len(toks), 1) BETWEEN 3 AND 10),
    s2 AS (
        SELECT doc_id, source, stext,
               regexp_split_to_array(trim(lower(stext)), '\s+') AS toks2,
               md5(stext) AS h2,
               md5(regexp_replace(trim(lower(stext)), '\s+', ' ', 'g')) AS nfp
        FROM (SELECT doc_id, source, {_TCR_SCRUB} AS stext FROM q)),
    e AS (
        SELECT * FROM s2
        QUALIFY row_number() OVER (PARTITION BY nfp ORDER BY doc_id) = 1),
    csh AS (
        SELECT doc_id, list_distinct([
                   array_to_string(toks2[i:i+2], ' ')
                   for i in range(1, greatest(len(toks2) - 2, 1) + 1)
               ]) AS shingles
        FROM e WHERE len(toks2) >= 3),
    bsh AS (
        SELECT doc_id, list_distinct([
                   array_to_string(btoks[i:i+2], ' ')
                   for i in range(1, greatest(len(btoks) - 2, 1) + 1)
               ]) AS shingles
        FROM bench WHERE len(btoks) >= 3),
    contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM csh c JOIN bsh b
          ON len(list_intersect(c.shingles, b.shingles)) >= 3),
    dc AS (
        SELECT e.* FROM e LEFT JOIN contaminated t USING (doc_id)
        WHERE t.doc_id IS NULL),
    mx AS (
        SELECT * FROM dc
        WHERE ((doc_id % 1000003) * 2654435761) % 100 <
              CASE WHEN source IN ('src0', 'src2') THEN 50
                   WHEN source = 'src1' THEN 25 ELSE 10 END),
    pk AS (
        SELECT shard, t, (t + {_TCR_SEQ_LEN - 1}) // {_TCR_SEQ_LEN} AS n_seqs,
               ((t + {_TCR_SEQ_LEN - 1}) // {_TCR_SEQ_LEN}) * {_TCR_SEQ_LEN}
                 - t AS pad
        FROM (SELECT doc_id % 64 AS shard,
                     CAST(sum(len(toks2)) AS BIGINT) AS t
              FROM mx GROUP BY 1)),
    fp0 AS ({_TCR_FP.format(tok="len(toks)", dig="h0", rel="raw0")}),
    fp1 AS ({_TCR_FP.format(tok="len(toks)", dig="h0", rel="q")}),
    fp2 AS ({_TCR_FP.format(tok="len(toks2)", dig="h2", rel="s2")}),
    fp3 AS ({_TCR_FP.format(tok="len(toks2)", dig="h2", rel="e")}),
    fp4 AS ({_TCR_FP.format(tok="len(toks2)", dig="h2", rel="dc")}),
    fp5 AS ({_TCR_FP.format(tok="len(toks2)", dig="h2", rel="mx")}),
    fp6 AS (
        SELECT shard, n_seqs AS n, t,
               md5(string_agg(
                   md5(CAST(shard AS VARCHAR) || ':' ||
                       CAST(n_seqs AS VARCHAR) || ':' ||
                       CAST(pad AS VARCHAR)), '|' ORDER BY shard)) AS fp
        FROM pk GROUP BY shard, n_seqs, t)
    SELECT * FROM (
        {_TCR_STAGE.format(ord=0, name="raw")}
        UNION ALL {_TCR_STAGE.format(ord=1, name="quality_gate")}
        UNION ALL {_TCR_STAGE.format(ord=2, name="pii_scrub")}
        UNION ALL {_TCR_STAGE.format(ord=3, name="exact_dedup")}
        UNION ALL {_TCR_STAGE.format(ord=4, name="decontam")}
        UNION ALL {_TCR_STAGE.format(ord=5, name="mix_sample")}
        UNION ALL {_TCR_STAGE.format(ord=6, name="packing")})
    ORDER BY stage_ord
    """,
    doc="the FLAGSHIP 'prepare a training run' readout: the full curator "
    "path — Gopher quality gate (Rae et al. 2021: token count + mean "
    "word length) -> PII scrub (typed placeholders) -> exact dedup "
    "(normalized-md5, keep lowest id) -> benchmark decontamination "
    "(drop docs sharing >= 3 distinct 3-grams with the eval suite, the "
    "GPT-3 appendix-C shape; the 20 lowest-id docs stand in) -> "
    "deterministic per-source mix sampling (the weighted_mix "
    "multiplicative hash; no rand()) -> concat-and-chop sequence "
    "packing manifest (64 shards, 128-token sequences).  One row per "
    "stage: surviving docs (sequences for the packing row), surviving "
    "tokens (conserved exactly by packing: stage 6 tokens == stage 5 "
    "tokens, asserted in tests), and the two-level sharded corpus "
    "fingerprint (functions/fingerprint.py) so the oracle replays "
    "every stage's full CONTENT.  Composes existing primitives only — "
    "nothing here is new machinery, which is the point: the engine's "
    "curation operators chain into the production job.  Scale: every "
    "stage is a map, a digest-keyed aggregate, or a broadcast "
    "(benchmark) join; the only corpus exchanges are the dedup "
    "digest shuffle and the 64-shard packing aggregate; nothing "
    "quadratic, no corpus-level collect.",
)
def training_corpus_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup
    from ..operators.dedup import _persist

    d = load_table(spark, sf_dir, "documents")
    raw = _persist(
        d.filter(F.col("doc_id") >= 20).select(
            "doc_id",
            "source",
            "text",
            TX.token_count("text").cast("long").alias("n0"),
            F.md5("text").alias("h0"),
            TX.mean_word_length("text").alias("mwl"),
        )
    )
    bench = d.filter(F.col("doc_id") < 20).select(
        "doc_id", F.col("text").alias("stext")
    )
    # stage 1: Gopher gates (token count + mean word length)
    q = raw.filter(
        F.col("n0").between(20, 100000) & F.col("mwl").between(3, 10)
    )
    # stage 2: PII scrub (the pii_scrub_audit regex chain, applied)
    s = _persist(
        q.select("doc_id", "source", TX.scrub_pii("text").alias("stext"))
        .select(
            "doc_id",
            "source",
            "stext",
            TX.token_count("stext").cast("long").alias("n2"),
            F.md5("stext").alias("h2"),
            TX.fingerprint("stext").alias("nfp"),
        )
    )
    # stage 3: exact dedup on the normalized scrubbed text, keep min id
    rn = F.row_number().over(Window.partitionBy("nfp").orderBy("doc_id"))
    e = _persist(s.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn"))
    # stage 4: decontamination — the benchmark's exploded shingles are
    # broadcast; the corpus side is one streamed map pass
    cont = (
        dedup.contamination_pairs(e, bench, "stext", "doc_id", k=3, min_shared=3)
        .select("doc_id")
        .distinct()
    )
    dc = _persist(e.join(cont, "doc_id", "left_anti"))
    # stage 5: deterministic per-source mix sampling (weighted_mix hash)
    rate = (
        F.when(F.col("source").isin("src0", "src2"), 50)
        .when(F.col("source") == "src1", 25)
        .otherwise(10)
    )
    bucket = ((F.col("doc_id") % 1000003) * F.lit(2654435761)) % 100
    mx = _persist(dc.filter(bucket < rate))
    # stage 6: concat-and-chop packing manifest per 64-way shard —
    # sequences = ceil(shard tokens / seq_len); tokens are conserved
    # exactly (padding is the only slack, reported per shard)
    pk = (
        mx.groupBy(F.pmod("doc_id", F.lit(64)).alias("shard"))
        .agg(F.sum("n2").alias("t"))
        .select(
            "shard",
            "t",
            F.floor((F.col("t") + (_TCR_SEQ_LEN - 1)) / _TCR_SEQ_LEN)
            .cast("long")
            .alias("n_seqs"),
        )
        .withColumn("pad", F.col("n_seqs") * _TCR_SEQ_LEN - F.col("t"))
    )

    def _stage(df, ord_, name, tok_col, dig_col):
        return FP.corpus_fp_agg(
            df,
            order="doc_id",
            digest=dig_col,
            shard_key="doc_id",
            sums=((F.col(tok_col), "n_tokens"),),
            count_alias="n_docs",
        ).select(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
            "corpus_fp",
        )

    s6 = FP.corpus_fp_agg(
        pk,
        order="shard",
        digest=F.md5(F.concat_ws(":", "shard", "n_seqs", "pad")),
        shard_key="shard",
        sums=((F.col("n_seqs"), "n_docs"), (F.col("t"), "n_tokens")),
    ).select(
        F.lit(6).cast("int").alias("stage_ord"),
        F.lit("packing").alias("stage"),
        # n_docs rides a SUM leg here (sequences, not rows), which is
        # NULL over zero rows — but the oracle's stage row coalesces
        # n_docs to 0 (and leaves n_tokens plain sum = NULL), so match
        # that exactly for the all-docs-dropped corpus
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        "n_tokens",
        "corpus_fp",
    )
    stages = (
        _stage(raw, 0, "raw", "n0", "h0")
        .unionByName(_stage(q, 1, "quality_gate", "n0", "h0"))
        .unionByName(_stage(s, 2, "pii_scrub", "n2", "h2"))
        .unionByName(_stage(e, 3, "exact_dedup", "n2", "h2"))
        .unionByName(_stage(dc, 4, "decontam", "n2", "h2"))
        .unionByName(_stage(mx, 5, "mix_sample", "n2", "h2"))
        .unionByName(s6)
    )
    # persist the 7-row stage table before the presentation sort (the
    # near_dup_pairs orderBy lesson)
    return _persist(stages).orderBy("stage_ord")
