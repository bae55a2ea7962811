"""Training-run preparation operators: the steps between a curated
corpus and a training dataloader — sequence packing, retrieval scoring
(BM25), quantized similarity search, and deterministic corpus splits.

These extend SURVEY §2.11 on the training side of the pipeline (the
curation side lives in plans/curation.py).  Scale notes per query; the
shared theme is that every plan is a map pass plus small-key
aggregations, with any global constant (corpus size, average document
length) reduced to a 1-row broadcast — no operator materializes a
corpus-sized intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import similarity
from ..sources.readers import load_table
from .catalog import register

_SEQ_LEN = 64  # tokens per packed training sequence
_N_SHARDS = 4

from ..functions.text import TOKS_SQL as _TOKS  # noqa: E402


@register(
    "sequence_packing",
    sql=rf"""
    WITH t AS (
        SELECT doc_id, doc_id % {_N_SHARDS} AS shard,
               len({_TOKS}) AS n_tokens
        FROM documents),
    pos AS (
        SELECT shard, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                    AS BIGINT) AS end_tok
        FROM t WHERE n_tokens >= 1),
    spans AS (
        SELECT shard, end_tok - n_tokens AS start_tok, end_tok,
               unnest(range((end_tok - n_tokens) // {_SEQ_LEN},
                            (end_tok - 1) // {_SEQ_LEN} + 1)) AS seq_id
        FROM pos)
    SELECT CAST(shard AS BIGINT)  AS shard,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN start_tok // {_SEQ_LEN} < seq_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carryover,
           CAST(sum(least(end_tok, (seq_id + 1) * {_SEQ_LEN})
                    - greatest(start_tok, seq_id * {_SEQ_LEN}))
                AS BIGINT) AS n_tokens_filled
    FROM spans
    GROUP BY shard, seq_id
    ORDER BY shard, seq_id
    """,
    doc="concat-and-chop sequence packing (the GPT-style training "
    "dataloader layout): per shard, documents are concatenated in "
    "doc_id order into one token stream and chopped into fixed "
    f"{_SEQ_LEN}-token sequences; the manifest reports, per sequence, "
    "how many documents contribute, how many were carried over a "
    "sequence boundary (attention-mask fragmentation), and the fill. "
    "The running offset is a windowed cumsum PARTITIONED BY SHARD — at "
    "100 TB the shard count scales with the cluster and no single "
    "partition ever sees the whole corpus (a global cumsum would).",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    L = _SEQ_LEN
    docs = d.select(
        "doc_id",
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        TX.token_count("text").cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    w = Window.partitionBy("shard").orderBy("doc_id")
    pos = docs.withColumn("end_tok", F.sum("n_tokens").over(w)).withColumn(
        "start_tok", F.col("end_tok") - F.col("n_tokens")
    )
    spans = pos.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.floor(F.col("start_tok") / L),
                F.floor((F.col("end_tok") - 1) / L),
            )
        ),
    )
    return (
        spans.groupBy(
            F.col("shard").cast("bigint").alias("shard"),
            F.col("seq_id").cast("bigint").alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.floor(F.col("start_tok") / L) < F.col("seq_id"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_carryover"),
            F.sum(
                F.least(F.col("end_tok"), (F.col("seq_id") + 1) * L)
                - F.greatest(F.col("start_tok"), F.col("seq_id") * L)
            )
            .cast("bigint")
            .alias("n_tokens_filled"),
        )
        .orderBy("shard", "seq_id")
    )


_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_TERM_LIST = ", ".join(f"'{t}'" for t in _BM25_TERMS)


# the BM25 scoring pipeline as shared CTE text: bm25_topk consumes it
# directly; hybrid_rrf_fusion reuses the identical lexical ranking as
# one leg of the fusion
_BM25_CTES = rf"""dl AS (
        SELECT doc_id, len({_TOKS}) AS dl FROM documents),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
        WHERE tok IN ({_TERM_LIST})
        GROUP BY doc_id, tok),
    idf AS (
        SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY tok),
    scored AS (
        SELECT tf.doc_id,
               ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1)
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1}
                    * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)) AS s
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN idf ON tf.tok = idf.tok
        CROSS JOIN stats)"""


def _bm25_scored(d: DataFrame) -> DataFrame:
    """(doc_id, _s) raw BM25 score relation for the fixed term query —
    the Spark twin of ``_BM25_CTES``, shared by bm25_topk and
    hybrid_rrf_fusion."""
    dl = d.select("doc_id", TX.token_count("text").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    toks = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    idf = tf.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
            * F.col("tf")
            * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("s").alias("_s"))


@register(
    "bm25_topk",
    sql=rf"""
    WITH {_BM25_CTES}
    SELECT doc_id, round(sum(s), 4) AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id
    LIMIT 10
    """,
    doc="BM25 keyword retrieval (Robertson/Sparck-Jones, k1=1.2 b=0.75) "
    "for a fixed query over the corpus: tf per (doc, term) from a "
    "filtered token explode, df per term and the (N, avgdl) corpus "
    "constants as tiny broadcast relations, score as a pure column "
    "expression, TakeOrdered top-10.  avgdl is computed as an exact "
    "integer sum over a double division so the constant is "
    "bit-identical across engines.  At 100 TB: the only corpus-sized "
    "relation is the term-filtered explode (terms are selective), "
    "everything it joins against is broadcast.",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scored(d)
        .orderBy(F.col("_s").desc(), F.col("doc_id"))
        .limit(10)
        .select("doc_id", F.round("_s", 4).alias("bm25"))
    )


_RRF_K = 60
_RRF_DEPTH = 20


@register(
    "hybrid_rrf_fusion",
    sql=rf"""
    WITH {_BM25_CTES},
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY sum(s) DESC, doc_id)
                    AS INT) AS lex_rank
        FROM scored GROUP BY doc_id
        QUALIFY lex_rank <= {_RRF_DEPTH}),
    qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
    vres AS (
        -- rank on the 6-dp-ROUNDED cosine (the semdedup/lloyd
        -- discipline): Spark's Arrow-batch float sums vs
        -- list_dot_product can drift in the last ulps, and an
        -- unrounded order lets a near-tie flip ranks at the cut
        SELECT doc_id, CAST(row_number() OVER (ORDER BY cs6 DESC, doc_id)
                            AS INT) AS vec_rank
        FROM (SELECT e.vec_id AS doc_id,
                     round(list_dot_product(e.embedding::DOUBLE[], qv.q)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(qv.q, qv.q))), 6) AS cs6
              FROM embeddings e CROSS JOIN qv)
        QUALIFY vec_rank <= {_RRF_DEPTH})
    SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
           coalesce(l.lex_rank, 0) AS lex_rank,
           coalesce(v.vec_rank, 0) AS vec_rank,
           coalesce(CAST(round(1000000.0 / ({_RRF_K} + l.lex_rank)) AS BIGINT), 0)
         + coalesce(CAST(round(1000000.0 / ({_RRF_K} + v.vec_rank)) AS BIGINT), 0)
               AS rrf_micro
    FROM lex l FULL OUTER JOIN vres v ON l.doc_id = v.doc_id
    ORDER BY rrf_micro DESC, doc_id
    LIMIT 10
    """,
    doc="hybrid retrieval via Reciprocal Rank Fusion (Cormack 2009, "
    f"k={_RRF_K}): the BM25 lexical top-{_RRF_DEPTH} and the dense "
    "cosine top-20 for one query (terms + doc-0's embedding, the "
    "standard two-leg RAG query) fused by 1/(k+rank) — computed in "
    "INTEGER micro-units so the fusion arithmetic is exact "
    "cross-engine; absent legs rank 0.  Each leg is a distributed "
    "TakeOrdered (never a global sort); the fusion join touches "
    f"2x{_RRF_DEPTH} rows.  vec_id doubles as doc_id (the embeddings "
    "table is the documents table's vector column).  At 100 TB both "
    "legs stay one-scan + top-k fan-in; rank windows only ever see "
    f"{_RRF_DEPTH} rows.",
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_pandas

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex20 = (
        _bm25_scored(d)
        .orderBy(F.col("_s").desc(), F.col("doc_id"))
        .limit(_RRF_DEPTH)
    )
    # rank windows run AFTER the distributed TakeOrdered, over <= 20 rows
    lex = lex20.withColumn(
        "lex_rank",
        F.row_number()
        .over(Window.orderBy(F.col("_s").desc(), F.col("doc_id")))
        .cast("int"),
    ).select("doc_id", "lex_rank")
    # bounded: qv is the single query vector (vec_id == 0) — 1 row
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    # cut and rank on the 6-dp-ROUNDED cosine so boundary near-ties
    # resolve identically to the oracle (float-sum drift discipline)
    v20 = (
        emb.crossJoin(F.broadcast(qv))
        .withColumn("cs6", F.round(cosine_pandas("embedding", "qvec"), 6))
        .select(F.col("vec_id").alias("doc_id"), "cs6")
        .orderBy(F.col("cs6").desc(), F.col("doc_id"))
        .limit(_RRF_DEPTH)
    )
    vres = v20.withColumn(
        "vec_rank",
        F.row_number()
        .over(Window.orderBy(F.col("cs6").desc(), F.col("doc_id")))
        .cast("int"),
    ).select("doc_id", "vec_rank")
    rrf_leg = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1_000_000.0) / (_RRF_K + F.col(r))).cast("bigint"), F.lit(0)
    )
    # rrf computed BEFORE the rank coalesce: Spark 4 lateral column
    # aliases would otherwise bind rrf's rank reference to the
    # 0-coalesced alias and give absent legs 1/(k+0) instead of 0
    return (
        lex.join(vres, "doc_id", "full_outer")
        .withColumn("rrf_micro", rrf_leg("lex_rank") + rrf_leg("vec_rank"))
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
            "rrf_micro",
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(10)
    )


_Q_SQL = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    quant AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(
                   x * (127.0 / greatest(list_max(list_transform(v, y -> abs(y))),
                                         1e-300)) + 0.5) AS BIGINT)) AS q
        FROM base),
    q AS (SELECT vec_id AS query_id, q AS qq FROM quant WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.qq, c.q)
                 / sqrt(greatest(list_dot_product(q.qq, q.qq)
                                 * list_dot_product(c.q, c.q), 1)) AS q_cos
        FROM quant c JOIN q ON c.vec_id != q.query_id)
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY q_cos DESC, neighbor_id ASC) AS INT) AS rnk,
           round(q_cos, 6) AS q_cos
    FROM scored
    QUALIFY rnk <= 5
    ORDER BY query_id, rnk
    """


@register(
    "ann_int8_topk",
    sql=_Q_SQL,
    doc="top-5 cosine search over int8-QUANTIZED vectors (symmetric "
    "per-vector scale = 127/max|x|, floor(x*scale+0.5) codes): the "
    "memory-bound scale path — 8x smaller corpus residency than "
    "float64 and EXACT integer dot products, which is why this "
    "approximate method is fully oracle-checkable while float ANN "
    "needs rounding slack.  The codes are made in the JVM; each corpus "
    "Arrow batch scores them in int64 numpy and keeps a local top-5 per "
    "query, the plan of ann_brute_force; recall vs the exact float path "
    "is pinned in tests.  operators/similarity.py:quantized_topk.",
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.quantized_topk(emb, queries, k=5).orderBy("query_id", "rnk")


@register(
    "corpus_split_manifest",
    sql="""
    WITH tagged AS (
        SELECT source,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
               CAST('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 AS h
        FROM documents)
    SELECT source,
           CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'valid'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM tagged
    GROUP BY source, split
    ORDER BY source, split
    """,
    doc="deterministic train/valid/test split manifest (90/5/5): the "
    "split key is md5(source:doc_id) so membership is stable under "
    "corpus growth and reshuffling — adding documents never moves an "
    "existing document across splits (rand()-based splits do, leaking "
    "eval data into training).  Portable md5 arithmetic makes the "
    "assignment itself oracle-checked, not just the counts.  Map pass "
    "+ tiny (source, split) aggregate at any corpus size.",
)
def corpus_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.concat_ws(":", "source", "doc_id")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        d.select(
            "source",
            TX.token_count("text").cast("long").alias("n_tokens"),
            h.alias("h"),
        )
        .select(
            "source",
            "n_tokens",
            F.when(F.col("h") < 90, "train")
            .when(F.col("h") < 95, "valid")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("source", "split")
    )


@register(
    "kfold_ols_cv",
    sql="""
    WITH pts AS (
        SELECT l_orderkey % 4 AS fold,
               l_quantity AS x, l_extendedprice AS y
        FROM lineitem),
    fs AS (
        SELECT fold, CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM pts GROUP BY fold),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n, sum(sx) AS sx, sum(sy) AS sy,
               sum(sxx) AS sxx, sum(sxy) AS sxy
        FROM fs),
    coef AS (
        SELECT f.fold,
               ((t.sxy - f.sxy) - (t.sx - f.sx) * (t.sy - f.sy) / (t.n - f.n))
               / ((t.sxx - f.sxx) - (t.sx - f.sx) * (t.sx - f.sx) / (t.n - f.n))
                   AS b1,
               ((t.sy - f.sy)
                - (((t.sxy - f.sxy) - (t.sx - f.sx) * (t.sy - f.sy) / (t.n - f.n))
                   / ((t.sxx - f.sxx) - (t.sx - f.sx) * (t.sx - f.sx) / (t.n - f.n)))
                  * (t.sx - f.sx)) / (t.n - f.n) AS b0
        FROM fs f CROSS JOIN tot t),
    ev AS (
        SELECT p.fold, CAST(count(*) AS BIGINT) AS n_test,
               avg((p.y - c.b0 - c.b1 * p.x) * (p.y - c.b0 - c.b1 * p.x))
                   AS mse
        FROM pts p JOIN coef c USING (fold) GROUP BY p.fold)
    SELECT CAST(e.fold AS BIGINT) AS fold, e.n_test,
           round(c.b1, 6) AS slope, round(c.b0, 4) AS intercept,
           round(sqrt(e.mse), 2) AS rmse
    FROM ev e JOIN coef c USING (fold)
    ORDER BY fold
    """,
    doc="k-fold cross-validated OLS (U2 eval-harness depth) in TWO scans "
    "for ALL folds: per-fold sufficient statistics (n, Sx, Sy, Sxx, Sxy) "
    "in one aggregation, each fold's TRAIN coefficients derived from the "
    "COMPLEMENT (totals minus fold) — no per-fold re-scan — then one "
    "evaluation pass scores every fold with its own broadcast "
    "coefficients.  The leave-fold-out-from-sufficient-stats trick is "
    "what makes k-fold free at 100 TB: cost is independent of k.",
)
def kfold_ols_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_orderkey") % 4).alias("fold"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    fs = pts.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = fs.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
    )
    cn = F.col("tn") - F.col("n")
    csx = F.col("tsx") - F.col("sx")
    csy = F.col("tsy") - F.col("sy")
    csxx = F.col("tsxx") - F.col("sxx")
    csxy = F.col("tsxy") - F.col("sxy")
    b1 = (csxy - csx * csy / cn) / (csxx - csx * csx / cn)
    coef = fs.crossJoin(F.broadcast(tot)).select(
        "fold",
        b1.alias("b1"),
        ((csy - b1 * csx) / cn).alias("b0"),
    )
    resid = F.col("y") - F.col("b0") - F.col("b1") * F.col("x")
    ev = (
        # bounded: coef is one row per CV fold (k constant folds)
        pts.join(F.broadcast(coef), "fold")
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_test"),
            F.avg(resid * resid).alias("mse"),
            F.first("b1").alias("b1"),
            F.first("b0").alias("b0"),
        )
    )
    return ev.select(
        "fold",
        "n_test",
        F.round("b1", 6).alias("slope"),
        F.round("b0", 4).alias("intercept"),
        F.round(F.sqrt("mse"), 2).alias("rmse"),
    ).orderBy("fold")


@register(
    "residual_intervals_by_priority",
    sql="""
    WITH pts AS (
        SELECT o.o_orderpriority AS seg, l.l_quantity AS x,
               l.l_extendedprice AS y
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    coef AS (
        SELECT covar_pop(x, y) / var_pop(x) AS b1,
               avg(y) - covar_pop(x, y) / var_pop(x) * avg(x) AS b0
        FROM pts),
    resid AS (
        SELECT p.seg, p.y - c.b0 - c.b1 * p.x AS r
        FROM pts p CROSS JOIN coef c)
    SELECT seg,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(r, 0.1), 2) AS resid_p10,
           round(quantile_cont(r, 0.9), 2) AS resid_p90,
           round(quantile_cont(r, 0.9) - quantile_cont(r, 0.1), 2)
               AS interval_width
    FROM resid GROUP BY seg ORDER BY seg
    """,
    doc="conformal-style prediction intervals: fit ONE global OLS "
    "(closed-form aggregate, 1-row broadcast), score residuals in the "
    "same pass, then per-segment empirical p10/p90 of the residuals — "
    "the segment-conditional interval width that exposes where the "
    "model is honest and where it is blind (heteroscedasticity by "
    "order priority).  Two scans: coefficient agg + residual "
    "percentile agg; nothing is model-object-shaped, everything is a "
    "column expression.",
)
def residual_intervals_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pts = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_orderpriority").alias("seg"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    b1 = F.covar_pop("x", "y") / F.var_pop("x")
    coef = pts.agg(
        b1.alias("b1"), (F.avg("y") - b1 * F.avg("x")).alias("b0")
    )
    resid = pts.crossJoin(F.broadcast(coef)).select(
        "seg", (F.col("y") - F.col("b0") - F.col("b1") * F.col("x")).alias("r")
    )
    p10 = F.expr("percentile(r, 0.1)")
    p90 = F.expr("percentile(r, 0.9)")
    return (
        resid.groupBy("seg")
        .agg(
            F.count("*").alias("n"),
            F.round(p10, 2).alias("resid_p10"),
            F.round(p90, 2).alias("resid_p90"),
            F.round(p90 - p10, 2).alias("interval_width"),
        )
        .orderBy("seg")
    )


@register(
    "isotonic_price_curve",
    sql="""
    WITH grain AS (
        SELECT l_quantity AS x, CAST(count(*) AS BIGINT) AS n,
               avg(l_extendedprice) AS y_mean
        FROM lineitem GROUP BY 1),
    idx AS (SELECT x FROM grain),
    seg AS (
        -- weighted mean of every contiguous x-range [i, j]
        SELECT i.x AS i, j.x AS j, sum(g.n * g.y_mean) / sum(g.n) AS m
        FROM idx i JOIN idx j ON i.x <= j.x
        JOIN grain g ON g.x BETWEEN i.x AND j.x
        GROUP BY i.x, j.x),
    minj AS (
        SELECT k.x AS k, s.i, min(s.m) AS mn
        FROM idx k JOIN seg s ON s.i <= k.x AND s.j >= k.x
        GROUP BY k.x, s.i),
    fit AS (SELECT k, max(mn) AS fit FROM minj GROUP BY k)
    SELECT g.x AS l_quantity, g.n,
           round(g.y_mean, 4) AS y_mean,
           round(f.fit, 4)    AS fit
    FROM grain g JOIN fit f ON f.k = g.x
    ORDER BY l_quantity
    """,
    doc="isotonic regression (PAVA) of line price against quantity: "
    "the monotone step function calibrating quantity -> expected "
    "price.  Rows collapse to distinct-quantity grain (one linear "
    "agg) before the sequential pooling pass, so PAVA's input is "
    "x-cardinality sized.  Oracle: the minimax closed form of "
    "isotonic regression — fit(k) = max over i<=k of min over j>=k "
    "of the weighted mean on [i, j] (Barlow et al. 1972 §1.2) — "
    "which is O(grain³) in SQL but exact, so the sequential pool "
    "merge is differential-tested against an engine that never "
    "pools.  Monotonicity, weighted-mean preservation, pool-mean "
    "structure, and agreement with a brute-force numpy PAVA are "
    "additionally pinned in tests/test_training.py.",
)
def isotonic_price_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.regression import isotonic_fit

    li = load_table(spark, sf_dir, "lineitem")
    out = isotonic_fit(li, "l_quantity", "l_extendedprice")
    return out.select(
        F.col("l_quantity"),
        "n",
        F.round("y_mean", 4).alias("y_mean"),
        F.round("fit", 4).alias("fit"),
    ).orderBy("l_quantity")


# --------------------------------------------------------------------------
# Quality classifier: engine-portable logistic regression by unrolled GD
# --------------------------------------------------------------------------
_SQUEEZED_SQL = r"regexp_replace(trim(lower(text)), '\s+', '', 'g')"
_LR_XS = ("x0", "x1", "x2", "x3")
_LR_ETA = 2.0
_LR_ROUNDS = 3

from ..functions.text import EN_STOPWORDS as _LR_SW  # noqa: E402

_LR_STOPS = "', '".join(_LR_SW)

_LR_FEATS_SQL = rf"""
        SELECT doc_id,
               CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
               1.0 AS x0,
               (len({_TOKS}) - 50.0) / 50.0 AS x1,
               (len({_TOKS}) - len(list_distinct({_TOKS}))) * 1.0
                 / greatest(len({_TOKS}), 1) AS x2,
               CAST(len(list_filter({_TOKS},
                     t -> list_contains(['{_LR_STOPS}'], t))) AS DOUBLE)
                 / greatest(len({_TOKS}), 1) AS x3
        FROM documents"""


def _lr_gd_cte(i: int) -> str:
    """One unrolled gradient step as a CTE: r{i} derives the rounded
    betas from r{i-1} via scalar subqueries — the same
    trajectory-differential idiom as the k-means oracle."""
    b = [f"(SELECT b{j} FROM r{i - 1})" for j in range(len(_LR_XS))]
    z = " + ".join(f"{bj}*{x}" for bj, x in zip(b, _LR_XS))
    cols = ", ".join(
        f"round({bj} + {_LR_ETA}*avg((y - 1.0/(1.0+exp(-({z}))))*{x}), 6) AS b{j}"
        for j, (bj, x) in enumerate(zip(b, _LR_XS))
    )
    # MATERIALIZED: DuckDB inlines plain CTEs, and the scalar
    # subqueries reference each r{i-1} four times — unmaterialized,
    # the chain re-expands 4^rounds scans of f (measured: minutes at
    # 500 docs); materialized, each round runs once
    return f"r{i} AS MATERIALIZED (SELECT {cols} FROM f)"


_LR_FINAL_Z = " + ".join(
    f"(SELECT b{j} FROM r{_LR_ROUNDS})*{x}" for j, x in enumerate(_LR_XS)
)


def _lr_feature_frame(d: DataFrame) -> DataFrame:
    """(doc_id, y, x0..x3) — label + text-derived features, shared by the
    trainer and the calibration/AUC audits."""
    return d.select(
        "doc_id",
        (F.col("n_chars") >= 300).cast("double").alias("y"),
        F.lit(1.0).alias("x0"),
        ((TX.token_count("text") - F.lit(50.0)) / F.lit(50.0)).alias("x1"),
        TX.repetition_ratio("text").alias("x2"),
        TX.stopword_ratio("text").alias("x3"),
    )


def _lr_z(betas: list[float]):
    return sum(F.lit(b) * F.col(x) for b, x in zip(betas, _LR_XS))


def _lr_sigmoid(betas: list[float]):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-_lr_z(betas)))


def _lr_train(f: DataFrame) -> list[float]:
    """3 unrolled GD steps over a (pre-persisted) feature frame; each
    step is one distributed avg-gradient aggregation, betas rounded to
    6 dp IN SPARK so the rounding mode matches the DuckDB oracle."""
    betas = [0.0] * len(_LR_XS)
    for _ in range(_LR_ROUNDS):
        p = _lr_sigmoid(betas)
        row = f.agg(
            *[
                F.round(
                    F.lit(b) + F.lit(_LR_ETA) * F.avg((F.col("y") - p) * F.col(x)),
                    6,
                ).alias(x)
                for b, x in zip(betas, _LR_XS)
            ]
        ).first()
        betas = [row[x] for x in _LR_XS]
    return betas



@register(
    "quality_classifier_gd",
    sql=(
        f"WITH f AS MATERIALIZED ({_LR_FEATS_SQL}),\n    "
        + "r0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3),\n    "
        + ",\n    ".join(_lr_gd_cte(i) for i in range(1, _LR_ROUNDS + 1))
        + f""",
    m AS (SELECT y, 1.0/(1.0+exp(-({_LR_FINAL_Z}))) AS p FROM f)
    SELECT (SELECT b0 FROM r{_LR_ROUNDS}) AS b0,
           (SELECT b1 FROM r{_LR_ROUNDS}) AS b1,
           (SELECT b2 FROM r{_LR_ROUNDS}) AS b2,
           (SELECT b3 FROM r{_LR_ROUNDS}) AS b3,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(avg(CASE WHEN y = 1.0 THEN p END), 4) AS mean_p_pos,
           round(avg(CASE WHEN y = 0.0 THEN p END), 4) AS mean_p_neg
    FROM m"""
    ),
    doc="document-quality classifier the way a fasttext-style corpus "
    "filter is trained at scale: logistic regression predicting the "
    "n_chars >= 300 metadata gate from TEXT-derived features "
    "(intercept, centered token count, token repetition fraction, "
    "English-stopword fraction — content predicting metadata, the "
    "learnable direction in this corpus), fit by 3 "
    "ENGINE-PORTABLE gradient-descent "
    "steps — each step is one distributed avg-gradient aggregation "
    "(map-side combined; only the 3-float beta ever reaches the "
    "driver) and each beta is rounded to 6 dp so float sum-order "
    "drift cannot flip the next step, exactly the k-means-oracle "
    "discipline.  The DuckDB oracle unrolls the identical trajectory "
    "as chained CTEs, so the TRAINING RECURRENCE is differential-"
    "tested, then scores the corpus with the same final betas.  "
    "Inference is a pure codegen expression — at 100 TB the scoring "
    "pass is map-only.",
)
def quality_classifier_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # 4 driver-synchronous jobs share one feature scan
    f = _lr_feature_frame(d).persist()
    try:
        betas = _lr_train(f)
        p = _lr_sigmoid(betas)
        pred_ok = ((p >= 0.5) == (F.col("y") == 1.0)).cast("bigint")
        out = f.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(pred_ok).cast("bigint").alias("n_correct"),
            F.round(F.avg(F.when(F.col("y") == 1.0, p)), 4).alias("mean_p_pos"),
            F.round(F.avg(F.when(F.col("y") == 0.0, p)), 4).alias("mean_p_neg"),
        ).select(
            F.lit(betas[0]).alias("b0"),
            F.lit(betas[1]).alias("b1"),
            F.lit(betas[2]).alias("b2"),
            F.lit(betas[3]).alias("b3"),
            "n_docs",
            "n_pos",
            "n_correct",
            "mean_p_pos",
            "mean_p_neg",
        )
        # materialization happens inside the fn for the persist to pay
        # off; the returned DataFrame is a 1-row literal-backed plan
        rows = out.collect()
    finally:
        f.unpersist()
    return spark.createDataFrame(
        rows,
        "b0 double, b1 double, b2 double, b3 double, n_docs bigint, n_pos bigint, "
        "n_correct bigint, mean_p_pos double, mean_p_neg double",
    )


_LR_TRAIN_CTES = (
    "r0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3),\n    "
    + ",\n    ".join(_lr_gd_cte(i) for i in range(1, _LR_ROUNDS + 1))
)


@register(
    "classifier_calibration",
    sql=(
        f"WITH f AS MATERIALIZED ({_LR_FEATS_SQL}),\n    "
        + _LR_TRAIN_CTES
        + f""",
    m AS MATERIALIZED (
        SELECT doc_id, y, 1.0/(1.0+exp(-({_LR_FINAL_Z}))) AS p FROM f),
    ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY p, doc_id) AS DOUBLE) AS r
        FROM m),
    auc AS (
        -- rank sums as doubles: at corpus scale sum(r) ~ n^2/2
        -- overflows int64 long before the data stops fitting
        SELECT round((sum(CASE WHEN y = 1.0 THEN r ELSE 0.0 END)
                      - sum(y)*(sum(y)+1)/2.0)
                     / (sum(y) * (count(*) - sum(y))), 4) AS auc
        FROM ranked)
    SELECT CAST(least(floor(p*10), 9) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(p), 4) AS mean_p,
           round(avg(y), 4) AS frac_pos,
           (SELECT auc FROM auc) AS auc
    FROM m
    GROUP BY 1
    ORDER BY 1"""
    ),
    doc="classifier accountability audit: reliability-curve bins (decile "
    "of predicted probability -> observed positive rate; a calibrated "
    "model has mean_p tracking frac_pos) plus rank AUC for the "
    "quality_classifier_gd model, retrained by the same portable GD "
    "trajectory.  The global probability ranking uses the bucketed "
    "global_rank operator (no single-task window), and the bin "
    "aggregation is a 10-key groupBy — both map-side-combine shapes "
    "that hold at 100 TB.  AUC from distinct row_number ranks with a "
    "doc_id tiebreak, derived identically in the oracle.",
)
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    d = load_table(spark, sf_dir, "documents")
    f = _lr_feature_frame(d).persist()
    try:
        betas = _lr_train(f)
        scored = f.select("doc_id", "y", _lr_sigmoid(betas).alias("p"))
        ranked = global_rank(
            scored, "p", [F.col("doc_id")], ascending=True, rank_col="r"
        )
        n1 = F.sum("y")
        # rank sums as doubles — sum of ranks ~ n^2/2 overflows int64
        # at corpus scale (ANSI mode would raise, not wrap)
        r_d = F.col("r").cast("double")
        auc_row = ranked.agg(
            F.round(
                (F.sum(F.when(F.col("y") == 1.0, r_d).otherwise(0.0))
                 - n1 * (n1 + 1) / 2.0)
                / (n1 * (F.count("*") - n1)),
                4,
            ).alias("auc")
        ).first()
        bins = (
            scored.groupBy(
                F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin")
            )
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.round(F.avg("p"), 4).alias("mean_p"),
                F.round(F.avg("y"), 4).alias("frac_pos"),
            )
            .withColumn("auc", F.lit(float(auc_row["auc"])))
            .orderBy("bin")
        )
        rows = bins.collect()
    finally:
        f.unpersist()
    return spark.createDataFrame(
        rows, "bin int, n bigint, mean_p double, frac_pos double, auc double"
    )


# --------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling")
# --------------------------------------------------------------------------
_DSIR_BUCKETS = 512
# portable 32-bit md5 fold -> feature bucket (the scheme proven
# cross-engine by minhash_portable_sigs / corpus_split_manifest)
_DSIR_BUCKET_SQL = (
    f"CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % {_DSIR_BUCKETS}"
)


def _dsir_doc_buckets(d: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket, cnt) hashed-bigram feature counts per doc."""
    toks = TX.tokens("text")
    total = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, total).alias("a"), F.slice(toks, 2, total).alias("b")
    )
    bg = d.select(
        "doc_id", "lang", F.explode(pairs).alias("p")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat_ws(" ", "p.a", "p.b")), 1, 8), 16, 10
            ).cast("long")
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    return bg.groupBy("doc_id", "lang", "bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def dsir_lr_table(d: DataFrame, target_lang: str = "en") -> DataFrame:
    """(bucket, lr_micro): the FROZEN DSIR importance model — per-bucket
    add-1-smoothed log(p_target/p_raw) in int64 micro-units.  Bounded at
    ``_DSIR_BUCKETS`` rows; train once on the reference corpus, then
    score any shard/stream map-only (streaming/windows.dsir_score_stream)."""
    doc_b = _dsir_doc_buckets(d)
    raw = doc_b.groupBy("bucket").agg(F.sum("cnt").cast("bigint").alias("r"))
    tgt = (
        doc_b.filter(F.col("lang") == target_lang)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("t"))
    )
    # bounded: both sides are 1-row global sums; the hint keeps the
    # static planner from emitting a (harmless but banned) CartesianProduct
    tot = raw.agg(F.sum("r").cast("double").alias("nr")).crossJoin(
        F.broadcast(
            tgt.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("double").alias("nt"))
        )
    )
    B = float(_DSIR_BUCKETS)
    return (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.coalesce(F.col("t"), F.lit(0)) + 1.0) / (F.col("nt") + B))
                    - F.log((F.col("r") + 1.0) / (F.col("nr") + B))
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )


@register(
    "dsir_importance_weights",
    sql=rf"""
    WITH bg AS (
        SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket
        FROM (SELECT doc_id, lang,
                     unnest([array_to_string(toks[i:i+1], ' ')
                             for i in range(1, greatest(len(toks) - 1, 0) + 1)])
                         AS bg
              FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents))),
    doc_b AS MATERIALIZED (
        -- referenced 3x (raw, tgt, final join); DuckDB inlines plain
        -- CTEs so unmaterialized this re-explodes the bigrams 3x
        SELECT doc_id, lang, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM bg GROUP BY doc_id, lang, bucket),
    raw AS (
        SELECT bucket, CAST(sum(cnt) AS BIGINT) AS r FROM doc_b GROUP BY bucket),
    tgt AS (
        SELECT bucket, CAST(sum(cnt) AS BIGINT) AS t FROM doc_b
        WHERE lang = 'en' GROUP BY bucket),
    tot AS (
        SELECT CAST(sum(r) AS DOUBLE) AS nr,
               (SELECT CAST(coalesce(sum(t), 0) AS DOUBLE) FROM tgt) AS nt
        FROM raw),
    lr AS (
        SELECT raw.bucket,
               CAST(round((ln((coalesce(tgt.t, 0) + 1.0) / (tot.nt + {_DSIR_BUCKETS}))
                           - ln((raw.r + 1.0) / (tot.nr + {_DSIR_BUCKETS})))
                          * 1000000) AS BIGINT) AS lr_micro
        FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot)
    SELECT d.doc_id, d.lang,
           CAST(sum(d.cnt) AS BIGINT) AS n_bigrams,
           CAST(sum(d.cnt * coalesce(lr.lr_micro, 0)) AS BIGINT) AS weight_micro
    FROM doc_b d LEFT JOIN lr USING (bucket)
    GROUP BY d.doc_id, d.lang
    ORDER BY d.doc_id
    """,
    doc="DSIR importance weights (Xie 2023): every document scored by "
    "how much more likely its HASHED-BIGRAM distribution is under the "
    "target corpus (here: the English slice) than under the raw corpus "
    "— the importance-resampling signal that selects pretraining data "
    "resembling a high-quality target without training a model.  Word "
    "bigrams fold to 512 md5-portable buckets; target and raw bucket "
    "distributions are two 512-row aggregates (broadcast back); the "
    "per-bucket add-1-smoothed log-ratio is frozen to INTEGER "
    "micro-units so every per-document sum is exact int64 arithmetic — "
    "bit-stable across engines, no float-sum-order slack anywhere.  At "
    "100 TB: one explode pass, a (doc,bucket) combine-heavy aggregate, "
    "two tiny distribution relations — nothing corpus-squared.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # LEFT join + weight 0 for unseen buckets: on the training corpus
    # itself every bucket exists in lr (inner == left), but on NEW data
    # this is what makes the batch scorer count unseen-bucket bigrams
    # exactly like the frozen-model stream scorer (dsir_score_stream's
    # lut.get(h, 0)) — stream == batch on any corpus, not just this one
    return (
        # bounded: lr table is hash-bucket grain — 2^16 rows regardless of corpus size
        _dsir_doc_buckets(d).join(F.broadcast(dsir_lr_table(d)), "bucket", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.coalesce(F.col("lr_micro"), F.lit(0)))
            .cast("bigint")
            .alias("weight_micro"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Length-bucketed batch formation (the dataloader padding-waste problem)
# --------------------------------------------------------------------------
_BATCH_SIZE = 8
_LEN_BUCKET = 16  # tokens per length-bucket
_BATCH_SHARDS = 16


def _batch_scheme_sql(name: str, part: str) -> str:
    return f"""
        SELECT '{name}' AS scheme,
               CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_docs * mx) AS BIGINT) AS padded_slots,
               round(sum(tok) * 1.0 / sum(n_docs * mx), 6) AS fill_ratio
        FROM (SELECT {part}, batch_id,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     max(n) AS mx, sum(n) AS tok
              FROM (SELECT n, {part},
                           (row_number() OVER (PARTITION BY {part}
                                ORDER BY doc_id) - 1) // {_BATCH_SIZE}
                               AS batch_id
                    FROM b)
              GROUP BY {part}, batch_id)"""


@register(
    "length_bucketed_batching",
    sql=rf"""
    WITH b AS (
        SELECT doc_id, n, n // {_LEN_BUCKET} AS len_bucket,
               doc_id % {_BATCH_SHARDS} AS shard
        FROM (SELECT doc_id, len({_TOKS}) AS n FROM documents)
        WHERE n >= 1)
    {_batch_scheme_sql("arrival_order", "shard")}
    UNION ALL
    {_batch_scheme_sql("length_bucketed", "len_bucket, shard")}
    ORDER BY scheme
    """,
    doc="dataloader batch formation: documents grouped into "
    f"{_BATCH_SIZE}-doc batches padded to the batch max length, under "
    "two policies — arrival order vs length-bucketed (docs of similar "
    "token count batched together) — reporting each policy's padding "
    "fill ratio, i.e. the fraction of the padded token grid that is "
    "real data (length bucketing routinely recovers 2-3x effective "
    "throughput).  Batches form inside (bucket, shard) partitions — "
    "shard = doc_id mod 16 — so every row_number window is bounded and "
    "data-parallel; nothing needs a global sort.  Reference shape: "
    "sequence_packing is the concat-and-chop alternative; this is the "
    "padded-batch alternative with the waste made measurable.",
)
def length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = (
        d.select("doc_id", TX.token_count("text").cast("long").alias("n"))
        .filter(F.col("n") >= 1)
        .select(
            "doc_id",
            "n",
            F.floor(F.col("n") / _LEN_BUCKET).alias("len_bucket"),
            (F.col("doc_id") % _BATCH_SHARDS).alias("shard"),
        )
    )

    def scheme(name: str, parts: list[str]) -> DataFrame:
        w = Window.partitionBy(*parts).orderBy("doc_id")
        batches = (
            b.withColumn(
                "batch_id", F.floor((F.row_number().over(w) - 1) / _BATCH_SIZE)
            )
            .groupBy(*parts, "batch_id")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.max("n").alias("mx"),
                F.sum("n").alias("tok"),
            )
        )
        return batches.agg(
            F.count("*").cast("bigint").alias("n_batches"),
            F.sum("tok").cast("bigint").alias("total_tokens"),
            F.sum(F.col("n_docs") * F.col("mx")).cast("bigint").alias("padded_slots"),
            F.round(
                F.sum("tok").cast("double") / F.sum(F.col("n_docs") * F.col("mx")),
                6,
            ).alias("fill_ratio"),
        ).select(
            F.lit(name).alias("scheme"),
            "n_batches",
            "total_tokens",
            "padded_slots",
            "fill_ratio",
        )

    return (
        scheme("arrival_order", ["shard"])
        .unionAll(scheme("length_bucketed", ["len_bucket", "shard"]))
        .orderBy("scheme")
    )


# --------------------------------------------------------------------------
# Retrieval evaluation: recall@k / MRR / nDCG against label relevance
# --------------------------------------------------------------------------
_RM_COS = (
    "list_dot_product(c.v, q.qv)"
    " / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
)


@register(
    "retrieval_metrics",
    sql=f"""
    WITH c AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, label AS q_label, v AS qv
        FROM c WHERE vec_id < 10),
    top5 AS (
        SELECT query_id, q_label, n_label, rnk FROM (
            SELECT q.query_id, q.q_label, c.label AS n_label,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_RM_COS} DESC, c.vec_id ASC) AS rnk
            FROM c JOIN q ON c.vec_id != q.query_id)
        WHERE rnk <= 5),
    nrel AS (
        SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_rel
        FROM c JOIN q ON c.vec_id != q.query_id AND c.label = q.q_label
        GROUP BY q.query_id),
    hits AS (
        SELECT query_id,
               CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits,
               min(CASE WHEN n_label = q_label THEN rnk END) AS first_rel,
               sum(CASE WHEN n_label = q_label
                        THEN 1.0 / log2(rnk + 1) ELSE 0 END) AS dcg
        FROM top5 GROUP BY query_id)
    SELECT h.query_id, n.n_rel, h.n_hits,
           round(h.n_hits * 1.0 / least(5, n.n_rel), 6) AS recall_at_5,
           round(coalesce(1.0 / h.first_rel, 0.0), 6) AS mrr,
           round(h.dcg / list_sum([1.0 / log2(i + 1)
                                   for i in range(1, least(5, n.n_rel) + 1)]),
                 6) AS ndcg_at_5
    FROM hits h JOIN nrel n USING (query_id)
    ORDER BY query_id
    """,
    doc="retrieval evaluation harness: exact cosine top-5 per query "
    "(ann_brute_force's run: a per-batch local top-5 over one corpus "
    "scan, no pair relation), graded against label relevance "
    "(neighbor relevant iff it shares the query's label) as recall@5, "
    "MRR, and nDCG@5 with the standard min(k, n_rel) ideal-DCG "
    "normalizer.  The metric relations are per-query aggregates over "
    "the top-k run — evaluating retrieval at corpus scale costs one "
    "run + a label-count aggregate, nothing pairwise beyond the run "
    "itself.  The oracle replays run AND grading end-to-end.",
)
def retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    run = similarity.block_topk(emb, queries, k=5)
    labels = emb.select("vec_id", "label")
    top5 = (
        run.join(
            # bounded: q-labels come from the fixed 10-query evaluation set
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("q_label"),
                )
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
            ),
            "neighbor_id",
        )
    )
    rel = F.col("n_label") == F.col("q_label")
    hits = top5.groupBy("query_id").agg(
        F.sum(F.when(rel, 1).otherwise(0)).cast("bigint").alias("n_hits"),
        F.min(F.when(rel, F.col("rnk"))).alias("first_rel"),
        F.sum(
            F.when(rel, F.lit(1.0) / F.log2(F.col("rnk") + 1)).otherwise(0.0)
        ).alias("dcg"),
    )
    nrel = (
        emb.select("vec_id", "label")
        .join(
            # bounded: fixed 10-query evaluation set
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("q_label"),
                )
            ),
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") == F.col("q_label")),
        )
        .groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("n_rel"))
    )
    idcg = F.expr(
        "aggregate(sequence(1, int(least(5, n_rel))), 0D,"
        " (acc, i) -> acc + 1.0 / log2(i + 1))"
    )
    return (
        # bounded: both sides are query-count-sized (10 rows); without the
        # hint the post-aggregation stats estimate picks a SortMergeJoin
        hits.join(F.broadcast(nrel), "query_id")
        .select(
            "query_id",
            "n_rel",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.least(F.lit(5), F.col("n_rel")), 6
            ).alias("recall_at_5"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(F.col("dcg") / idcg, 6).alias("ndcg_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "tokenizer_fertility",
    sql=rf"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text,
                '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT)
               AS bpe_tokens,
           round(sum(len(regexp_extract_all(text,
                    '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\s]'))) * 1.0
                 / sum(len({_TOKS})), 6) AS fertility,
           round(sum(n_chars) * 1.0
                 / sum(len(regexp_extract_all(text,
                      '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\s]'))), 6)
               AS chars_per_token
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="tokenizer fertility by language: BPE-ish subword tokens per "
    "whitespace word and characters per subword token, per lang — the "
    "standard multilingual-tokenizer budget audit (fertility >> 1 for "
    "a language means its documents cost disproportionate context "
    "window and training FLOPs per word).  One codegen map pass + a "
    "|langs|-key aggregate.",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "lang",
        TX.token_count("text").cast("long").alias("ws"),
        bpe_ish_token_count("text").cast("long").alias("bpe"),
        F.col("n_chars"),
    ).groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("bpe").cast("bigint").alias("bpe_tokens"),
        F.round(F.sum("bpe").cast("double") / F.sum("ws"), 6).alias("fertility"),
        F.round(F.sum("n_chars").cast("double") / F.sum("bpe"), 6).alias(
            "chars_per_token"
        ),
    )
    return g.orderBy("lang")


# --------------------------------------------------------------------------
# Next-fit-decreasing bin packing (document-boundary-respecting layout)
# --------------------------------------------------------------------------
_BIN_CAP = 128


@register(
    "bin_packing_manifest",
    sql=rf"""
    WITH RECURSIVE seq AS (
        SELECT shard, n,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY n DESC, doc_id) AS rn
        FROM (SELECT doc_id, doc_id % {_N_SHARDS} AS shard,
                     len({_TOKS}) AS n
              FROM documents)
        WHERE n BETWEEN 1 AND {_BIN_CAP}),
    walk AS (
        SELECT shard, rn, n, 0 AS bin_id, n AS tok
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.shard, s.rn, s.n,
               CASE WHEN w.tok + s.n > {_BIN_CAP}
                    THEN w.bin_id + 1 ELSE w.bin_id END,
               CASE WHEN w.tok + s.n > {_BIN_CAP}
                    THEN s.n ELSE w.tok + s.n END
        FROM seq s JOIN walk w ON s.shard = w.shard AND s.rn = w.rn + 1)
    SELECT CAST(shard AS BIGINT)  AS shard,
           CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT)   AS tokens_filled,
           round(sum(n) / {_BIN_CAP}.0, 6) AS fill_pct
    FROM walk GROUP BY shard, bin_id
    ORDER BY shard, bin_id
    """,
    doc="document-boundary-respecting sequence layout: next-fit-"
    f"DECREASING bin packing into {_BIN_CAP}-token bins — the "
    "alternative to sequence_packing's concat-and-chop when documents "
    "must not cross sequence boundaries (no attention-mask "
    "fragmentation; the waste moves into per-bin slack, which this "
    "manifest makes measurable).  The greedy open-bin recurrence is "
    "NON-associative, so the honest shapes are a partition-level "
    "segmented scan (one repartition(shard) + sortWithinPartitions + "
    "one mapInPandas walk, ~1 Python call per PARTITION — the "
    "capped_decay_balance discipline) vs a recursive CTE replaying the "
    "IDENTICAL integer recurrence; every column is exact int64, so the "
    "comparison has zero float slack.  Shards bound the sequential "
    "chains: at 100 TB the shard count scales with the cluster and "
    "each chain is one task's linear walk.",
)
def bin_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        TX.token_count("text").cast("long").alias("n"),
    ).filter(F.col("n").between(1, _BIN_CAP))
    part = docs.repartition("shard").sortWithinPartitions(
        "shard", F.col("n").desc(), F.col("doc_id")
    )
    CAP = _BIN_CAP

    def walk(batches):
        cur = None
        bin_id = 0
        tok = 0
        n_docs = 0
        out: list[tuple[int, int, int, int]] = []
        for pdf in batches:
            for s, n in zip(pdf["shard"].tolist(), pdf["n"].tolist()):
                if s != cur:
                    if cur is not None:
                        out.append((cur, bin_id, n_docs, tok))
                    cur, bin_id, tok, n_docs = s, 0, n, 1
                elif tok + n > CAP:
                    out.append((cur, bin_id, n_docs, tok))
                    bin_id += 1
                    tok, n_docs = n, 1
                else:
                    tok += n
                    n_docs += 1
        if cur is not None:
            out.append((cur, bin_id, n_docs, tok))
        if out:
            yield pd.DataFrame(
                out, columns=["shard", "bin_id", "n_docs", "tokens_filled"]
            )

    packed = part.mapInPandas(
        walk, schema="shard long, bin_id long, n_docs bigint, tokens_filled bigint"
    )
    return packed.select(
        "shard",
        "bin_id",
        "n_docs",
        "tokens_filled",
        F.round(F.col("tokens_filled") / float(CAP), 6).alias("fill_pct"),
    ).orderBy("shard", "bin_id")


# --------------------------------------------------------------------------
# Dedup threshold sensitivity + epoch shuffling
# --------------------------------------------------------------------------
_DTC_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)
_DTC_TH_LIST = ", ".join(str(t) for t in _DTC_THRESHOLDS)


@register(
    "dedup_threshold_curve",
    sql=rf"""
    WITH {TX.shingle_pairs_sql(0.5)},
    -- the thresholds are compared against the 6-dp score, as in the
    -- Spark plan, so a j of 0.6999996 cannot change sides at 0.7
    pr AS (SELECT doc_a, doc_b, round(j, 6) AS j FROM pairs),
    th AS (SELECT unnest([{_DTC_TH_LIST}]) AS threshold),
    pc AS (
        SELECT th.threshold, CAST(count(*) AS BIGINT) AS n_pairs
        FROM th JOIN pr p ON p.j >= th.threshold
        GROUP BY th.threshold),
    dc AS (
        SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
        FROM (SELECT th.threshold, unnest([p.doc_a, p.doc_b]) AS d
              FROM th JOIN pr p ON p.j >= th.threshold)
        GROUP BY threshold)
    SELECT th.threshold,
           coalesce(pc.n_pairs, 0) AS n_pairs,
           coalesce(dc.n_docs_affected, 0) AS n_docs_affected
    FROM th LEFT JOIN pc USING (threshold) LEFT JOIN dc USING (threshold)
    ORDER BY th.threshold
    """,
    doc="dedup aggressiveness tuning curve: near-dup pair count and "
    "affected-document count at Jaccard thresholds 0.5-0.9, all derived "
    "from ONE prefix-filter join run at the loosest threshold (the "
    "candidate relation is computed once; the curve is a 5-key "
    "broadcast-threshold regrouping of its exact Jaccard scores).  The "
    "choose-your-threshold ROI readout every dedup deployment needs "
    "before committing to a cutoff.  Oracle = exact Jaccard via an "
    "inverted-index self-join, histogrammed identically (6-dp-rounded "
    "scores compared on both sides so the bucket edges cannot "
    "disagree).",
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_join(d, "text", "doc_id", threshold=0.5, k=3)
    ths = spark.createDataFrame(
        [(t,) for t in _DTC_THRESHOLDS], "threshold double"
    )
    # jaccard is computed ONCE per candidate pair; each pair then fans
    # out row-locally to the thresholds it clears (array filter + two
    # explodes — no threshold join), and ONE aggregation produces both
    # curve columns: every pair contributes exactly two side rows, so
    # n_pairs = count/2 and n_docs_affected = countDistinct(doc).
    # Keeping a single consumer of `pairs` matters: the earlier shape
    # referenced the pair relation from two aggregation branches, which
    # duplicated the whole prefix-join subtree in the physical plan and
    # ran the candidate generation TWICE (dominant at 100x: 137 s).
    th_arr = F.array(*[F.lit(t) for t in _DTC_THRESHOLDS])
    counts = (
        pairs.select(
            "doc_a",
            "doc_b",
            F.explode(
                F.filter(th_arr, lambda t: F.col("jaccard") >= t)
            ).alias("threshold"),
        )
        .select("threshold", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("threshold")
        .agg(
            (F.count("*") / 2).cast("bigint").alias("n_pairs"),
            F.countDistinct("d").cast("bigint").alias("n_docs_affected"),
        )
    )
    return (
        # 5-row threshold grid left-joined to a <=5-row aggregate (a
        # broadcast hint is unsupported on a left join's LEFT side)
        ths.join(counts, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0)).alias("n_docs_affected"),
        )
        .orderBy("threshold")
    )


_ES_EPOCHS = 3
_ES_SHARDS = 8


@register(
    "epoch_shuffle_manifest",
    sql=rf"""
    WITH keyed AS (
        SELECT e.epoch, d.doc_id,
               CAST('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' ||
                                       CAST(d.doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS k
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, {_ES_EPOCHS})) AS epoch) e),
    ranked AS (
        SELECT epoch, doc_id, k, k % {_ES_SHARDS} AS shard,
               row_number() OVER (PARTITION BY epoch, k % {_ES_SHARDS}
                                  ORDER BY k, doc_id) AS rn
        FROM keyed)
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS first_doc,
           bit_xor(rn * doc_id) AS order_fp
    FROM ranked
    GROUP BY epoch, shard
    ORDER BY epoch, shard
    """,
    doc="deterministic per-epoch dataloader shuffle: each training epoch "
    "permutes the corpus by md5(epoch:doc_id) — shard assignment AND "
    "within-shard order both change every epoch, yet any worker can "
    "recompute its slice from (epoch, doc_id) alone: no shuffle "
    "service, no stored permutation, retry-idempotent (the property "
    "rand() shuffles lack).  The manifest fingerprints each (epoch, "
    "shard)'s order with bit_xor(position*doc_id) so the oracle checks "
    "the PERMUTATION itself, not just counts; a test asserts epochs "
    "produce different orders.  Per-epoch cost is one map pass + a "
    "shard-bounded rank.",
)
def epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    epochs = spark.range(_ES_EPOCHS).select(F.col("id").alias("epoch"))
    k = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    keyed = d.select("doc_id").crossJoin(F.broadcast(epochs)).select(
        "epoch", "doc_id", k.alias("k")
    )
    ranked = keyed.withColumn("shard", F.col("k") % _ES_SHARDS).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
        ),
    )
    return (
        ranked.groupBy(
            F.col("epoch").cast("bigint").alias("epoch"),
            F.col("shard").cast("bigint").alias("shard"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("first_doc"),
            F.bit_xor(F.col("rn") * F.col("doc_id")).alias("order_fp"),
        )
        .orderBy("epoch", "shard")
    )


_BPE_ROUNDS = 6


# the exact-greedy non-overlapping merge fold, shared by the BPE and
# WordPiece oracle chains (identical rewrite semantics, different
# round-winner ranking)
_GREEDY_KEPT_SQL = (
    "list_filter(list_transform(list_filter(string_split(split_part("
    "list_reduce(list_prepend('-99;', list_transform("
    "[j for j in range(1, len(syms)) if syms[j] = L AND syms[j+1] = R],"
    " x -> CAST(x AS VARCHAR))),"
    " (acc, x) -> CASE WHEN CAST(x AS INT) = CAST(split_part(acc, ';', 1) AS INT) + 1"
    " THEN acc ELSE x || ';' || split_part(acc, ';', 2) || ',' || x END"
    "), ';', 2), ','), s -> s <> ''), s -> CAST(s AS INT)), x -> x IS NOT NULL)"
)


def _bpe_cte_chain(n_rounds: int, last_vocab: bool) -> str:
    """The shared WITH-chain of the BPE oracles: one MATERIALIZED
    (best, vocab) CTE pair per merge round (plain CTEs would re-expand
    the whole round chain per reference — the k^depth-scan gotcha
    documented in NOTES.md), replaying the IDENTICAL exact-greedy
    non-overlapping merge via the same string-encoded fold (list_reduce
    here, F.aggregate on the Spark side).  ``last_vocab`` controls
    whether the final round's vocab CTE is emitted (the merge-table
    oracle doesn't need it; the compression curve does)."""
    parts = [
        f"""
    WITH words AS (
        SELECT unnest({_TOKS}) AS word FROM documents),
    vocab0 AS MATERIALIZED (
        SELECT cnt, [word[j] for j in range(1, len(word)+1)] AS syms
        FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
              FROM words WHERE len(word) >= 1 GROUP BY word))"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""",
    best{r} AS MATERIALIZED (
        SELECT p[1] AS L, p[2] AS R, CAST(sum(cnt) AS BIGINT) AS pc
        FROM vocab{r - 1}, unnest(list_zip(syms, syms[2:])) AS u(p)
        WHERE p[2] IS NOT NULL
        GROUP BY 1, 2
        ORDER BY pc DESC, L, R LIMIT 1)"""
        )
        if r < n_rounds or last_vocab:
            parts.append(
                f""",
    vocab{r} AS MATERIALIZED (
        SELECT cnt,
               [CASE WHEN list_contains(kept, j) THEN L || R ELSE syms[j] END
                for j in range(1, len(syms)+1)
                if NOT list_contains(kept, j - 1)] AS syms
        FROM (SELECT cnt, syms, L, R, {_GREEDY_KEPT_SQL} AS kept
              FROM vocab{r - 1} CROSS JOIN best{r}))"""
            )
    return "".join(parts)


def _bpe_oracle_sql(n_rounds: int) -> str:
    """Unrolled DuckDB twin of operators/bpe.bpe_train_merges."""
    union = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, L AS lhs, R AS rhs, pc AS pair_count FROM best{r}"
        for r in range(1, n_rounds + 1)
    )
    return (
        _bpe_cte_chain(n_rounds, last_vocab=False)
        + f"""
    SELECT merge_round, lhs, rhs, pair_count FROM (
        {union})
    ORDER BY merge_round"""
    )


def _bpe_curve_sql(n_rounds: int) -> str:
    """Unrolled DuckDB twin of operators/bpe.bpe_compression_curve."""
    # HAVING count(*) > 0: when the corpus runs out of pairs before
    # round n, vocab{r} is EMPTY (cross join with an empty best{r}) and
    # a bare sum() would emit one NULL row — the Spark loop simply stops
    # yielding rounds, so the guard keeps the degenerate case aligned
    union = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, "
        f"CAST(sum(cnt * len(syms)) AS BIGINT) AS total_symbols FROM vocab{r}"
        + (" HAVING count(*) > 0" if r > 0 else "")
        for r in range(0, n_rounds + 1)
    )
    return (
        _bpe_cte_chain(n_rounds, last_vocab=True)
        + f"""
    SELECT merge_round, total_symbols FROM (
        {union})
    ORDER BY merge_round"""
    )


@register(
    "bpe_train_merges",
    sql=_bpe_oracle_sql(_BPE_ROUNDS),
    doc="distributed BPE merge TRAINING (the SentencePiece/HF-trainer "
    "shape at corpus scale): the only corpus-sized step is the word "
    "histogram (map-side combine; the shuffle carries (word, partial "
    "count), never text); every merge round then runs over the "
    "distinct-word vocabulary — pair counts via arrays_zip of two "
    "slices (codegen, no lambda), the winner a deterministic 1-row "
    "TakeOrdered (count DESC, pair lexicographic), and the merge an "
    "exact greedy left-to-right non-overlapping row-local rewrite.  "
    "Rounds localCheckpoint the vocab (pagerank/kmeans idiom) so "
    "lineage stays O(1) per round; the only driver-visible object per "
    "round is the single winning pair.  The oracle unrolls the same "
    "rounds as MATERIALIZED CTE pairs replaying the identical greedy "
    "fold, so the learned merge TABLE (not a proxy) is what the "
    "differential check pins.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train_merges as _train

    return _train(load_table(spark, sf_dir, "documents"), "text", _BPE_ROUNDS)


@register(
    "bpe_compression_curve",
    sql=_bpe_curve_sql(_BPE_ROUNDS),
    doc="the vocabulary-budget sizing curve for the trained BPE "
    "tokenizer: corpus-weighted TOTAL symbol count after each merge "
    "round (round 0 = the per-character baseline), so "
    "total[0]/total[k] is the compression k merges buy on this "
    "corpus.  Same training loop, checkpoints, and argmax semantics "
    "as bpe_train_merges (operators/bpe._train_rounds is shared); "
    "each round adds one bounded 1-row aggregation over the "
    "vocabulary relation.  The oracle extends the unrolled "
    "MATERIALIZED-CTE chain with the final round's vocabulary and "
    "sums cnt*len(syms) per round — the curve itself is "
    "hash-checked, not a proxy.",
)
def bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_compression_curve as _curve

    return _curve(load_table(spark, sf_dir, "documents"), "text", _BPE_ROUNDS)


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (Kudo 2018) — the SentencePiece
# complement to bpe_train_merges
# ---------------------------------------------------------------------------

_UNI_W = 10  # max word length admitted to training
_UNI_L = 4  # max piece length
_UNI_S = 48  # seed multi-char budget
_UNI_R = 2  # EM rounds
_UNI_K = 24  # kept multi-char budget after pruning


def _unigram_oracle_sql() -> str:
    """Unrolled DuckDB twin of operators/unigram.unigram_train: the
    word histogram, the substring seed, and per EM round an EXHAUSTIVE
    segmentation enumeration (a recursive CTE — sound because training
    words are capped at 10 chars, so <= 2^9 compositions each) whose
    (score DESC, path ASC) argmax equals the Spark side's lexmin-path
    Viterbi DP.  Micro log-probs re-derived from the identical integer
    counts each round."""
    W, L, S, R, K = _UNI_W, _UNI_L, _UNI_S, _UNI_R, _UNI_K
    parts = [
        f"""
    WITH RECURSIVE hist AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({_TOKS}) AS word FROM documents)
        WHERE len(word) BETWEEN 1 AND {W}
        GROUP BY word),
    lens AS (SELECT unnest(range(1, {L + 1})) AS l),
    subs AS (
        SELECT substr(h.word, u.st, l.l) AS piece,
               CAST(sum(h.cnt) AS BIGINT) AS u
        FROM hist h, lens l,
             unnest([{{'st': st}}
                     for st in range(1, len(h.word) - l.l + 2)]) AS t(u)
        GROUP BY 1),
    v0 AS MATERIALIZED (
        SELECT piece, u FROM subs WHERE len(piece) = 1
        UNION ALL
        SELECT piece, u FROM (
            SELECT piece, u FROM subs WHERE len(piece) > 1
            ORDER BY u DESC, piece LIMIT {S})),
    p0 AS MATERIALIZED (
        SELECT piece,
               CAST(round(ln((u + 1.0) / t.tot) * 1000000) AS BIGINT) AS lp
        FROM v0, (SELECT CAST(sum(u) + count(*) AS DOUBLE) AS tot
                  FROM v0) t)"""
    ]
    for r in range(1, R + 1):
        parts.append(
            f""",
    seg{r} AS (
        SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS score, '' AS path
        FROM hist
        UNION ALL
        SELECT s.word, s.cnt, s.pos + len(p.piece), s.score + p.lp,
               s.path || chr(1) || p.piece
        FROM seg{r} s JOIN p{r - 1} p
          ON p.piece = substr(s.word, s.pos + 1, len(p.piece))
        WHERE s.pos < len(s.word)),
    best{r} AS MATERIALIZED (
        SELECT word, cnt, substr(path, 2) AS path FROM seg{r}
        WHERE pos = len(word)
        QUALIFY row_number() OVER (PARTITION BY word
                                   ORDER BY score DESC, path) = 1),
    u{r} AS (
        SELECT t.piece, CAST(sum(b.cnt) AS BIGINT) AS u
        FROM best{r} b, unnest(string_split(b.path, chr(1))) AS t(piece)
        GROUP BY 1),
    v{r} AS MATERIALIZED (
        SELECT p.piece, coalesce(u{r}.u, 0) AS u
        FROM p{r - 1} p LEFT JOIN u{r} USING (piece)
        WHERE len(p.piece) = 1 OR coalesce(u{r}.u, 0) > 0),
    p{r} AS MATERIALIZED (
        SELECT piece,
               CAST(round(ln((u + 1.0) / t.tot) * 1000000) AS BIGINT) AS lp
        FROM v{r}, (SELECT CAST(sum(u) + count(*) AS DOUBLE) AS tot
                    FROM v{r}) t)"""
        )
    parts.append(
        f""",
    kept AS MATERIALIZED (
        SELECT piece, u FROM v{R} WHERE len(piece) = 1
        UNION ALL
        SELECT piece, u FROM (
            SELECT piece, u FROM v{R} WHERE len(piece) > 1
            ORDER BY u DESC, piece LIMIT {K}))"""
    )
    return "".join(parts)


def _unigram_oracle_tail() -> str:
    return """
    SELECT piece, u AS usage,
           CAST(round(ln((u + 1.0) / t.tot) * 1000000) AS BIGINT)
               AS logp_micro
    FROM kept, (SELECT CAST(sum(u) + count(*) AS DOUBLE) AS tot FROM kept) t
    ORDER BY piece"""


@register(
    "unigram_lm_train",
    sql=_unigram_oracle_sql() + _unigram_oracle_tail(),
    doc="unigram-LM tokenizer TRAINING (Kudo 2018, the SentencePiece "
    "unigram algorithm) as hard (Viterbi) EM — the other dominant "
    "tokenizer-training family next to bpe_train_merges: substring "
    "seed vocabulary (top-48 multi-char by corpus occurrence + ALL "
    "single chars for coverage), two EM rounds (E = per-word Viterbi "
    "segmentation as a row-local integer fold, M = usage-weighted "
    "renormalization with add-1 smoothing; zero-usage multi-char "
    "pieces drop), prune to the top-24 multi-char pieces.  "
    "Differentially replayable because log-probs are int64 micro-units "
    "derived from exact integer counts each round, Viterbi compares "
    "exact integer score sums with a lexmin-path tie-break, and the "
    "oracle replays each E-step by EXHAUSTIVE recursive-CTE "
    "enumeration (sound under the 10-char training-word cap) with the "
    "identical (score DESC, path ASC) argmax.  Scale: the word "
    "histogram is the only corpus-sized step (map-side combine); "
    "Viterbi runs over DISTINCT words (operators/unigram.viterbi_path "
    "— the merge_pair_greedy interpreted-HOF cost profile); the only "
    "driver-visible objects are budget-bounded piece tables (the "
    "k-means-centroid / BPE-best-pair precedent).",
)
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import unigram_train

    return unigram_train(
        load_table(spark, sf_dir, "documents"),
        "text",
        max_word_len=_UNI_W,
        max_piece_len=_UNI_L,
        n_seed_multi=_UNI_S,
        em_rounds=_UNI_R,
        keep_multi=_UNI_K,
    )


def _wordpiece_oracle_sql(n_rounds: int) -> str:
    """Unrolled DuckDB twin of operators/bpe.wordpiece_train_merges:
    the BPE chain's MATERIALIZED (best, vocab) round pairs with the
    WordPiece likelihood ranking — score = pair_count / (count(lhs) *
    count(rhs)) over per-round corpus-weighted symbol counts.  Exact
    integer counts -> identical doubles in both engines, so the
    (score DESC, lhs, rhs) argmax replays bit-for-bit."""
    parts = [
        f"""
    WITH words AS (
        SELECT unnest({_TOKS}) AS word FROM documents),
    wvocab0 AS MATERIALIZED (
        SELECT cnt, [word[j] for j in range(1, len(word)+1)] AS syms
        FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
              FROM words WHERE len(word) >= 1 GROUP BY word))"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""",
    wsc{r} AS MATERIALIZED (
        SELECT s, CAST(sum(cnt) AS BIGINT) AS sc
        FROM (SELECT cnt, unnest(syms) AS s FROM wvocab{r - 1})
        GROUP BY s),
    wbest{r} AS MATERIALIZED (
        SELECT p.L, p.R, p.pc,
               CAST(p.pc AS DOUBLE) /
                   (CAST(sl.sc AS DOUBLE) * CAST(sr.sc AS DOUBLE)) AS score
        FROM (SELECT p[1] AS L, p[2] AS R, CAST(sum(cnt) AS BIGINT) AS pc
              FROM wvocab{r - 1}, unnest(list_zip(syms, syms[2:])) AS u(p)
              WHERE p[2] IS NOT NULL
              GROUP BY 1, 2) p
        JOIN wsc{r} sl ON sl.s = p.L
        JOIN wsc{r} sr ON sr.s = p.R
        ORDER BY score DESC, L, R LIMIT 1)"""
        )
        if r < n_rounds:
            parts.append(
                f""",
    wvocab{r} AS MATERIALIZED (
        SELECT cnt,
               [CASE WHEN list_contains(kept, j) THEN L || R ELSE syms[j] END
                for j in range(1, len(syms)+1)
                if NOT list_contains(kept, j - 1)] AS syms
        FROM (SELECT cnt, syms, L, R, {_GREEDY_KEPT_SQL} AS kept
              FROM wvocab{r - 1} CROSS JOIN wbest{r}))"""
            )
    union = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, L AS lhs, R AS rhs, "
        f"pc AS pair_count, score FROM wbest{r}"
        for r in range(1, n_rounds + 1)
    )
    parts.append(
        f"""
    SELECT merge_round, lhs, rhs, pair_count, score FROM (
        {union})
    ORDER BY merge_round"""
    )
    return "".join(parts)


@register(
    "wordpiece_train_merges",
    sql=_wordpiece_oracle_sql(_BPE_ROUNDS),
    doc="WordPiece merge TRAINING (Schuster & Nakajima 2012; the HF "
    "WordPiece trainer's ranking) — completing the tokenizer-training "
    "triad next to bpe_train_merges and unigram_lm_train: the merge "
    "harness is IDENTICAL to BPE (corpus word histogram once with "
    "map-side combine, per-round vocabulary-relation aggregates, 1-row "
    "argmax, exact greedy non-overlapping row-local rewrite, "
    "localCheckpointed rounds), but each round merges the pair with "
    "the highest likelihood score pair_count/(count(lhs)*count(rhs)) — "
    "the most SURPRISING adjacency given its parts — computed from one "
    "extra vocabulary-sized symbol-count aggregate per round.  "
    "Cross-engine exact: all counts are integers, both engines "
    "convert to double (exact below 2^53) and divide once, so the "
    "(score DESC, pair lexicographic) argmax and therefore the whole "
    "learned merge TABLE replays bit-for-bit in the unrolled "
    "MATERIALIZED-CTE oracle.",
)
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import wordpiece_train_merges as _train

    return _train(load_table(spark, sf_dir, "documents"), "text", _BPE_ROUNDS)


def _unigram_fertility_tail() -> str:
    """Inference tail over the trained vocabulary: renormalized micro
    log-probs from `kept`, then an exhaustive Viterbi replay over the
    DISTINCT (cap-domain) words of the corpus and a per-language
    fertility aggregate."""
    return f""",
    lpfin AS MATERIALIZED (
        SELECT piece,
               CAST(round(ln((u + 1.0) / t.tot) * 1000000) AS BIGINT) AS lp
        FROM kept, (SELECT CAST(sum(u) + count(*) AS DOUBLE) AS tot
                    FROM kept) t),
    lwords AS MATERIALIZED (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT lang, unnest({_TOKS}) AS word FROM documents)
        WHERE len(word) BETWEEN 1 AND {_UNI_W}
        GROUP BY 1, 2),
    dwords AS (SELECT DISTINCT word FROM lwords),
    segf AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score, '' AS path
        FROM dwords
        UNION ALL
        SELECT s.word, s.pos + len(p.piece), s.score + p.lp,
               s.path || chr(1) || p.piece
        FROM segf s JOIN lpfin p
          ON p.piece = substr(s.word, s.pos + 1, len(p.piece))
        WHERE s.pos < len(s.word)),
    bestf AS MATERIALIZED (
        SELECT word,
               len(string_split(substr(path, 2), chr(1))) AS np
        FROM segf
        WHERE pos = len(word)
        QUALIFY row_number() OVER (PARTITION BY word
                                   ORDER BY score DESC, path) = 1)
    SELECT l.lang,
           CAST(sum(l.cnt) AS BIGINT) AS n_words,
           CAST(sum(l.cnt * b.np) AS BIGINT) AS total_pieces,
           round(CAST(sum(l.cnt * b.np) AS DOUBLE) / sum(l.cnt), 6)
               AS fertility,
           round(CAST(sum(l.cnt * len(l.word)) AS DOUBLE)
                 / sum(l.cnt * b.np), 6) AS chars_per_piece
    FROM lwords l JOIN bestf b USING (word)
    GROUP BY l.lang ORDER BY l.lang"""


@register(
    "unigram_fertility",
    sql=_unigram_oracle_sql() + _unigram_fertility_tail(),
    doc="tokenizer economics under the TRAINED unigram-LM tokenizer — "
    "the inference side of unigram_lm_train, complementing "
    "tokenizer_fertility's BPE-ish ESTIMATE with the real thing: the "
    "trained piece table segments every distinct (cap-domain) word via "
    "the same integer-micro Viterbi, and the per-language aggregate "
    "reports fertility (pieces per word) and chars per piece — the "
    "context-window cost table a tokenizer choice actually implies.  "
    "Scale: training as unigram_lm_train; inference is ONE "
    "vocabulary-relation Viterbi pass over distinct (lang, word) "
    "histograms — documents are never re-scanned after the two word "
    "histograms.  Oracle: the full training CTE chain plus an "
    "exhaustive-enumeration inference replay and the identical "
    "per-language aggregate (exact integer counts; one double "
    "division per ratio, rounded to 6 places).",
)
def unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import unigram_fertility as _uf

    return _uf(
        load_table(spark, sf_dir, "documents"),
        "text",
        max_word_len=_UNI_W,
        max_piece_len=_UNI_L,
        n_seed_multi=_UNI_S,
        em_rounds=_UNI_R,
        keep_multi=_UNI_K,
    )
