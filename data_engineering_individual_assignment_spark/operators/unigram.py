"""Distributed unigram-LM tokenizer training (Kudo 2018, the
SentencePiece unigram algorithm) — the other dominant tokenizer-training
family next to BPE merges (operators/bpe.py).

Hard-EM (Viterbi-EM) variant, structured exactly like the BPE trainer
for scale:

- the ONLY corpus-sized step is the word histogram — a (word)-keyed
  count with map-side partial aggregation; every later step runs over
  the DISTINCT-WORD vocabulary relation (Heaps'-law bounded) or over
  the piece table (budget-bounded by construction);
- the seed vocabulary is every substring of length <= ``max_piece_len``
  weighted by corpus occurrence (a vocabulary-relation explode +
  aggregate), pruned to the top ``n_seed_multi`` multi-char pieces
  (count DESC, piece ASC — deterministic) plus ALL single characters
  (the coverage guarantee unigram LM requires);
- each EM round is: E-step = per-word Viterbi segmentation under the
  current piece log-probs (a ROW-LOCAL fold — see ``viterbi_path``),
  M-step = piece usage counts weighted by word count (one bounded
  aggregate over the vocabulary relation) renormalized with add-1
  smoothing; multi-char pieces that win zero usage drop out (the
  standard prune-by-usage), single chars never drop;
- the final prune keeps the top ``keep_multi`` multi-char pieces by
  (usage DESC, piece ASC) plus all single chars, renormalized.

Differential replayability (what makes this oracle-checkable rather
than rows-only): log-probs are int64 MICRO-UNITS, round(ln((u+1)/total)
* 1e6), computed engine-side from exact integer counts — Viterbi then
compares exact integer score sums, and equal-score ties break on the
lexicographically smallest chr(1)-joined path (paths to the same
position are never prefixes of each other, so the lexmin prefix has
optimal substructure and DP equals the oracle's exhaustive
enumeration).  The per-round piece tables are the only driver-visible
objects — bounded by the vocabulary budget, the k-means-centroid /
BPE-best-pair precedent.

At 100 TB: one corpus scan ever; Viterbi is interpreted HOF work but
runs over distinct words only (the merge_pair_greedy cost profile);
piece tables are a few hundred rows collected per round.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

LOGP_MICRO = 1_000_000


def word_histogram(
    docs: DataFrame, text_col: str = "text", max_word_len: int = 10
) -> DataFrame:
    """(word, cnt) over whitespace-lowercase tokens, capped at
    ``max_word_len`` chars (the trainer-side length filter
    SentencePiece applies as max_sentencepiece_length; the cap also
    bounds the oracle's exhaustive segmentation replay)."""
    words = docs.select(F.explode(TX.tokens(text_col)).alias("word")).filter(
        (F.length("word") >= 1) & (F.length("word") <= max_word_len)
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def seed_counts(hist: DataFrame, max_piece_len: int = 4) -> DataFrame:
    """(piece, u): corpus-weighted count of every (overlapping)
    substring of length 1..max_piece_len — the unigram seed statistics.
    Runs over the vocabulary relation; the explode fans each word to
    O(len * max_piece_len) short strings, never documents."""
    # guard: sequence(1, 0) is a DESCENDING [1, 0], not empty
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(max_piece_len)),
            lambda l: F.when(
                F.length("word") - l + 1 >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - l + 1),
                    lambda st: F.substr(F.col("word"), st, l),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        hist.select("cnt", F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("u"))
    )


def _logp_micro_rows(spark, rows: list[tuple[str, int]]) -> list[tuple[str, int, int]]:
    """(piece, u) -> (piece, u, logp_micro) with add-1 smoothing,
    ENGINE-computed (Spark ln + round on a bounded createDataFrame) so
    the micro ints match what the SQL oracle derives from the same
    integer counts — both engines parse identical integers, divide
    identically, and round the ln to 1e-6 (the DSIR micro-unit
    discipline; a flip needs the true value within ~1e-16 of a
    0.5-micro boundary)."""
    tot = float(sum(u for _, u in rows) + len(rows))
    df = spark.createDataFrame(rows, "piece string, u long")
    out = df.select(
        "piece",
        "u",
        F.round(F.ln((F.col("u") + F.lit(1)).cast("double") / F.lit(tot)) * LOGP_MICRO)
        .cast("long")
        .alias("lp"),
    ).collect()
    return [(r["piece"], int(r["u"]), int(r["lp"])) for r in out]


def viterbi_path(
    word: Column, piece_logp: dict[str, int], max_piece_len: int = 4
) -> Column:
    """chr(1)-joined Viterbi segmentation of ``word`` under integer
    micro log-probs — a single row-local fold, no shuffle, no UDF.

    DP state: an array of struct(ns, p) per prefix length, ns = NEGATED
    best score (so struct-MIN = max score), p = the chr(1)-prefixed
    lexmin path among max-score segmentations.  Candidates at position
    i are the <= max_piece_len pieces ending there; a piece absent from
    the table yields NULL and is filtered.  Ties: paths to the same
    position are never prefixes of one another, so lexicographically-
    smallest has optimal substructure and the DP result equals an
    exhaustive (score DESC, path ASC) argmax — which is exactly how the
    DuckDB oracle replays it.

    SCALE SEAM (same discipline as ``bpe.bpe_apply``'s documented
    non-viability note): the piece table is baked in as a
    ``create_map`` LITERAL — 2·|vocab| expression children — which is
    what makes the plan oracle-replayable at the catalog's
    budget-bounded vocabulary (<= ~76 pieces), but blows plan size /
    codegen at a production 32k-256k-piece vocabulary.  The
    production-scale twin is ``viterbi_segment_pandas`` (broadcast
    piece dict scored in Arrow-batched mapInPandas), agreement-tested
    against this expression path on identical inputs and exercised at a
    widened vocabulary where this path is not viable."""
    args: list[Column] = []
    for p in sorted(piece_logp):
        args += [F.lit(p), F.lit(int(piece_logp[p]))]
    lpmap = F.create_map(*args)
    n = F.length(word)

    def step(acc, i):
        cands = F.filter(
            F.transform(
                F.sequence(
                    F.greatest(F.lit(1), i - F.lit(max_piece_len) + 1), i
                ),
                lambda st: _cand(acc, word, lpmap, st, i),
            ),
            lambda c: c.isNotNull(),
        )
        # unreachable prefixes are a SENTINEL struct with null fields,
        # never a null struct: accessing a field of a null struct NPEs
        # inside the generated UnsafeProjection (hit by any word the
        # piece table cannot segment — training guarantees coverage of
        # its own histogram, but inference input is not so bounded)
        return F.concat(acc, F.array(F.coalesce(F.array_min(cands), _dead())))

    init = F.array(
        F.struct(F.lit(0).cast("long").alias("ns"), F.lit("").alias("p"))
    )
    final = F.aggregate(F.sequence(F.lit(1), n), init, step)
    return F.substr(F.element_at(final, n + 1)["p"], F.lit(2), F.lit(1 << 30))


def _dead():
    """The unreachable-prefix sentinel state (built lazily — a
    module-level Column would need an active SparkContext at import)."""
    return F.struct(
        F.lit(None).cast("long").alias("ns"),
        F.lit(None).cast("string").alias("p"),
    )


def _cand(acc, word, lpmap, st, i):
    piece = F.substr(word, st, i - st + 1)
    lp = F.element_at(lpmap, piece)
    prev = F.element_at(acc, st)  # acc[st] = state at prefix length st-1
    return F.when(
        lp.isNotNull() & prev["ns"].isNotNull(),
        F.struct(
            (prev["ns"] - lp).alias("ns"),
            F.concat(prev["p"], F.lit("\x01"), piece).alias("p"),
        ),
    )


def unigram_train(
    docs: DataFrame,
    text_col: str = "text",
    max_word_len: int = 10,
    max_piece_len: int = 4,
    n_seed_multi: int = 48,
    em_rounds: int = 2,
    keep_multi: int = 24,
) -> DataFrame:
    """Train a unigram-LM tokenizer; returns the final piece table
    (piece, usage, logp_micro) ordered by piece.

    usage = the piece's corpus-weighted Viterbi count from the LAST
    EM round; logp_micro = round(ln((usage+1)/(sum+|vocab|)) * 1e6)
    renormalized over the pruned vocabulary."""
    final = unigram_train_table(
        docs,
        text_col,
        max_word_len=max_word_len,
        max_piece_len=max_piece_len,
        n_seed_multi=n_seed_multi,
        em_rounds=em_rounds,
        keep_multi=keep_multi,
    )
    return docs.sparkSession.createDataFrame(
        sorted(final), "piece string, usage long, logp_micro long"
    )


def unigram_train_table(
    docs: DataFrame,
    text_col: str = "text",
    max_word_len: int = 10,
    max_piece_len: int = 4,
    n_seed_multi: int = 48,
    em_rounds: int = 2,
    keep_multi: int = 24,
) -> list[tuple[str, int, int]]:
    """The training loop itself: returns the pruned piece table as a
    bounded Python list [(piece, usage, logp_micro)] — the trained
    TOKENIZER, consumable by ``viterbi_path`` for inference (the
    unigram_fertility query) as well as by ``unigram_train``'s
    DataFrame wrapper."""
    spark = docs.sparkSession
    from .dedup import _persist

    hist = _persist(word_histogram(docs, text_col, max_word_len))
    seeds = seed_counts(hist, max_piece_len)
    chars = seeds.filter(F.length("piece") == 1)
    multi = (
        seeds.filter(F.length("piece") > 1)
        .orderBy(F.desc("u"), "piece")
        .limit(n_seed_multi)
    )
    v = [
        (r["piece"], int(r["u"]))
        for r in chars.unionAll(multi).collect()  # bounded: budget rows
    ]
    table = _logp_micro_rows(spark, v)
    usage: dict[str, int] = {p: u for p, u, _ in table}
    for _ in range(em_rounds):
        lp = {p: m for p, _, m in table}
        path = viterbi_path(F.col("word"), lp, max_piece_len)
        u_rows = (
            hist.select("cnt", F.explode(F.split(path, "\x01")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("cnt").alias("u"))
            .collect()  # bounded: <= |piece table| rows
        )
        used = {r["piece"]: int(r["u"]) for r in u_rows}
        v = [
            (p, used.get(p, 0))
            for p, _, _ in table
            if len(p) == 1 or used.get(p, 0) > 0
        ]
        table = _logp_micro_rows(spark, v)
        usage = {p: u for p, u, _ in table}
    kept_chars = [(p, u) for p, u in usage.items() if len(p) == 1]
    kept_multi = sorted(
        ((p, u) for p, u in usage.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:keep_multi]
    return _logp_micro_rows(spark, sorted(kept_chars + kept_multi))


def _viterbi_py(word: str, lp: dict[str, int], max_piece_len: int):
    """Plain-Python mirror of the ``viterbi_path`` fold: state per
    prefix = (negated micro score, chr(1)-prefixed path), min = tuple
    order — Python's (int, str) tuple min IS Spark's struct array_min
    here (UTF-8 byte order and code-point order coincide).  Returns the
    chr(1)-joined segmentation, or None if no segmentation exists."""
    n = len(word)
    best: list[tuple[int, str] | None] = [None] * (n + 1)
    best[0] = (0, "")
    for i in range(1, n + 1):
        cands = []
        for st in range(max(0, i - max_piece_len), i):
            prev = best[st]
            m = lp.get(word[st:i])
            if m is None or prev is None:
                continue
            cands.append((prev[0] - m, prev[1] + "\x01" + word[st:i]))
        best[i] = min(cands) if cands else None
    return best[n][1][1:] if best[n] is not None else None


def viterbi_segment_pandas(
    df: DataFrame,
    piece_logp: dict[str, int],
    word_col: str = "word",
    max_piece_len: int = 4,
    out_col: str = "path",
) -> DataFrame:
    """PRODUCTION-scale Viterbi inference twin of ``viterbi_path``: the
    piece table ships ONCE per executor as a Spark broadcast dict and
    words are scored in Arrow-batched mapInPandas — O(1) plan size at
    any vocabulary, where the expression path's ``create_map`` literal
    (2·|vocab| expression children) stops being viable past a few
    hundred pieces.  Same contract: ``out_col`` = chr(1)-joined
    segmentation (NULL when no segmentation exists), identical scores
    AND identical lexmin tie-breaks (agreement-tested on shared
    inputs).  Still one vocabulary-relation pass, no shuffle — apply it
    to the distinct word histogram, never to documents."""
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(dict(piece_logp))
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    schema = f"{fields}, {out_col} string"

    def gen(batches):
        lp = bc.value
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = pd.Series(
                [_viterbi_py(w, lp, max_piece_len) for w in pdf[word_col]],
                index=pdf.index,
                dtype="object",
            )
            yield out

    return df.mapInPandas(gen, schema=schema)


def unigram_fertility(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    max_word_len: int = 10,
    max_piece_len: int = 4,
    n_seed_multi: int = 48,
    em_rounds: int = 2,
    keep_multi: int = 24,
) -> DataFrame:
    """Tokenizer-economics readout under the TRAINED unigram tokenizer
    (the inference side of unigram_train): per language, word
    occurrences, total Viterbi pieces, fertility (pieces per word) and
    chars per piece — the context-window cost table a trained
    tokenizer actually yields, complementing tokenizer_fertility's
    BPE-ish ESTIMATE.

    Plan shape: train (same budget-bounded loop), then ONE
    vocabulary-relation pass — Viterbi over the distinct (lang, word)
    histogram, never over documents — and a per-language aggregate.
    The word-length cap bounds inference to the same domain training
    saw (this corpus's words all fit; a production tokenizer byte-falls
    back outside it)."""
    table = unigram_train_table(
        docs,
        text_col,
        max_word_len=max_word_len,
        max_piece_len=max_piece_len,
        n_seed_multi=n_seed_multi,
        em_rounds=em_rounds,
        keep_multi=keep_multi,
    )
    lp = {p: m for p, _, m in table}
    lwords = (
        docs.select(F.col(lang_col).alias("lang"), F.explode(TX.tokens(text_col)).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= max_word_len))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    path = viterbi_path(F.col("word"), lp, max_piece_len)
    per_word = lwords.select(
        "lang",
        "cnt",
        F.size(F.split(path, "\x01")).alias("np"),
        F.length("word").alias("nc"),
    )
    return (
        per_word.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("np")).cast("bigint").alias("total_pieces"),
            F.round(
                F.sum(F.col("cnt") * F.col("np")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum(F.col("cnt") * F.col("nc")).cast("double")
                / F.sum(F.col("cnt") * F.col("np")),
                6,
            ).alias("chars_per_piece"),
        )
        .orderBy("lang")
    )
