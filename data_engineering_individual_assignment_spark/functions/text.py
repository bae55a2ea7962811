"""Text-analysis column functions for the LLM-data-pipeline extensions
(SURVEY §2.11): tokenization, stopword ratio, quality scoring,
fingerprinting, shingling.

All pure Column expressions (no Python UDFs) so they run inside
whole-stage codegen and scale linearly: at 100 TB these are a single
map-only pass over the documents table, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal English stopword list for the n-gram/stopword language heuristic.
# Order matters nowhere; kept short so the oracle SQL can inline it.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# The DuckDB-oracle twin of ``tokens()`` below — ONE canonical constant so
# a tokenization change cannot silently diverge between the Spark plans and
# the SQL oracles that check them.
TOKS_SQL = r"regexp_split_to_array(trim(lower(text)), '\s+')"


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization of lower-cased text -> array<string>.
    Trim first so no empty leading/trailing tokens appear (keeps Spark and
    DuckDB/regexp_split_to_array semantics aligned)."""
    return F.split(F.trim(F.lower(_col(c))), r"\s+")


def token_count(c: Column | str) -> Column:
    """Number of whitespace tokens (int)."""
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """A BPE-ish token estimate: count word pieces + digits + punctuation
    runs.  Heuristic used for LLM-cost accounting; deterministic regex."""
    pieces = F.regexp_count(_col(c), F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"))
    return pieces.cast("int")


def stopword_count(c: Column | str) -> Column:
    """How many tokens are English stopwords (exact token match)."""
    toks = tokens(c)
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))


def stopword_ratio(c: Column | str) -> Column:
    n = token_count(c)
    return F.when(n > 0, stopword_count(c) / n).otherwise(F.lit(0.0))


def punct_ratio(c: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty strings)."""
    total = F.length(_col(c))
    punct = F.length(_col(c)) - F.length(F.regexp_replace(_col(c), r"[^\w\s]", ""))
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite quality score in [0,1]: rewards reasonable length,
    low punctuation density, and presence of stopwords (proxy for
    natural language).  Deterministic, SQL-expressible."""
    length_term = F.least(F.length(_col(c)) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    stop_term = F.least(stopword_ratio(c) * 5, F.lit(1.0))
    return (length_term + punct_term + stop_term) / 3


def fingerprint(c: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lower-cased
    text.  md5 is bit-identical across engines (DuckDB has md5() too), so
    this doubles as the exact-dedup key."""
    normalized = F.regexp_replace(F.trim(F.lower(_col(c))), r"\s+", " ")
    return F.md5(normalized)


def shingles(c: Column | str, k: int = 3) -> Column:
    """Word k-shingles -> array<string> of space-joined k-grams, distinct.
    Used by MinHash / Jaccard near-dup."""
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.when(n >= k, F.array_distinct(grams)).otherwise(F.array())


# --------------------------------------------------------------------------
# Gopher-style quality heuristics + PII scrubbing (training-data hygiene)
# --------------------------------------------------------------------------
def mean_word_length(c: Column | str) -> Column:
    """Average characters per whitespace token (0.0 for empty text) — the
    Gopher mean-word-length gate (docs outside ~[3,10] are usually not
    prose)."""
    squeezed = F.regexp_replace(F.trim(F.lower(_col(c))), r"\s+", "")
    n = token_count(c)
    return F.when(n > 0, F.length(squeezed) / n).otherwise(F.lit(0.0))


def repetition_ratio(c: Column | str) -> Column:
    """Fraction of tokens that repeat an earlier token:
    1 - distinct/total.  High values flag boilerplate/spam (the Gopher
    duplicate-fraction family)."""
    toks = tokens(c)
    n = F.size(toks)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(toks))) / n
    ).otherwise(F.lit(0.0))


def bigram_repetition_ratio(c: Column | str) -> Column:
    """Fraction of word bigrams that repeat: 1 - distinct_bigrams/total.
    Catches looping text that token-level repetition misses.

    Distinct bigrams are counted as array_distinct over
    arrays_zip(toks[0:n-1], toks[1:n-1]) — pair-struct equality equals
    joined-string equality because tokens can't contain whitespace —
    avoiding the interpreted higher-order ``shingles()`` transform
    (~4x per-row cost on the documents table)."""
    toks = tokens(c)
    total = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, total).alias("a"), F.slice(toks, 2, total).alias("b")
    )
    return F.when(
        total > 0, (total - F.size(F.array_distinct(pairs))) / total
    ).otherwise(F.lit(0.0))


# RE2-safe patterns (identical semantics in Spark's Java regex and
# DuckDB's RE2: no lookarounds, no backrefs)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_count(c: Column | str, pattern: str) -> Column:
    """Occurrences of one PII pattern (int)."""
    return F.regexp_count(_col(c), F.lit(pattern)).cast("int")


def scrub_email_phone(c: Column | str) -> Column:
    """The first two scrub passes (emails, then phones).  Shared between
    ``scrub_pii`` and audits that need to count IPs on the SAME
    intermediate text — the pass order is load-bearing (the phone pass
    must not see digits inside an already-scrubbed email, the IP pass
    must not re-match dotted phone fragments)."""
    out = F.regexp_replace(_col(c), EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def scrub_pii(c: Column | str) -> Column:
    """Replace emails, then phone numbers, then bare IPv4s with typed
    placeholder tags (order via ``scrub_email_phone``)."""
    return F.regexp_replace(scrub_email_phone(c), IPV4_RE, "<IP>")


def token_chunks(c: Column | str, size: int, stride: int) -> Column:
    """Context-window chunking: array of space-joined token windows of
    ``size`` tokens starting every ``stride`` tokens (overlap = size -
    stride; the final window may be shorter).  The standard pre-training
    tokenize-and-pack precursor, as a pure codegen expression — chunking
    100 TB is a map-only pass with zero shuffle.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = tokens(c)
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: s < n,
    )
    return F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, size)))


def compression_ratio_udf():
    """Vectorized (Arrow-batched) compression-ratio quality signal:
    len(zlib(text)) / len(text) — highly repetitive/boilerplate text
    compresses far below ~0.4 while natural prose sits ~0.5-0.8.  A
    pandas UDF is the right tool here (no JVM zlib expression exists);
    the batch transfer amortizes the Python hop, and the signal is a
    map-only pass at any corpus size.  Null/empty text yields null (not
    0.0) so contentless docs drop out of averages and redundancy counts
    instead of reading as maximally-redundant.  zlib output is
    library-version dependent, so queries built on this are rows-only
    (no SQL oracle)."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _ratio(s):
        def one(v):
            if not v:
                return None
            b = v.encode("utf-8")
            return len(zlib.compress(b, 6)) / len(b)

        return s.map(one)

    # real class objects (not string annotations) so pandas_udf's type
    # inference works without a module-level pandas import
    _ratio.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_ratio, "double")


def segment_hashes(toks: Column, seg: int) -> Column:
    """md5 digests of a token array's fixed ``seg``-token segments (the
    CCNet-style sub-document dedup granularity) -> array<string>, one
    digest per segment in document order.  Row-local codegen collection
    expressions; the SINGLE definition both the batch operator
    (plans/curation.segment_dedup_reassembly) and the ingest stream twin
    (streaming/windows.segment_dedup_stream) build on, so their digests
    cannot silently diverge."""
    nseg = F.ceil(F.size(toks) / F.lit(float(seg))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda s: F.md5(F.array_join(F.slice(toks, s * seg + 1, seg), " ")),
    )
    # nseg >= 1 guard: sequence(0, -1) is the DESCENDING [0, -1] in Spark
    # and would emit two phantom md5("") segments for an empty token
    # array, diverging from the oracle's empty range(0, 0).  Null toks
    # still propagate to null (null nseg fails both branches' predicate
    # only via the explicit isNull check).
    return (
        F.when(toks.isNull(), F.lit(None).cast("array<string>"))
        .when(nseg >= 1, segs)
        .otherwise(F.array().cast("array<string>"))
    )
