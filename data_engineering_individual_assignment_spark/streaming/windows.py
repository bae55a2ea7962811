"""Structured Streaming layer (SURVEY §2.9).

The reference is pure batch on a daily Airflow schedule with date-keyed
file drops and append-only warehouse loads (final DAG 36-39, 55-58,
601-656).  The Spark-native equivalent of that *incremental-daily*
semantics is a file-source stream processed with Trigger.AvailableNow:
each run picks up exactly the files not yet processed (checkpointed),
writes idempotently, and stops — a scheduled batch with streaming's
exactly-once bookkeeping instead of the reference's
duplicate-append-on-retry hazard.

Provided here:
- ``stream_events``           file-source stream over an events landing dir
- ``tumbling_counts_stream``  watermarked tumbling-window agg (late data
                              beyond the watermark is dropped)
- ``sliding_counts_stream``   sliding-window variant
- ``session_counts_stream``   session_window (gap-based) variant
- ``run_to_memory``           drive any of the above to completion
                              synchronously (AvailableNow + memory sink)
- ``incremental_ingest``      landing -> partitioned parquet warehouse via
                              foreachBatch, exactly-once per file
- ``running_totals_stateful`` custom stateful operator via
                              applyInPandasWithState (per-key running
                              aggregates surviving across micro-batches)

The windowed aggregations are the same *logical plans* as the batch
queries ``tumbling_window_counts``/``sliding_window_counts`` in
plans/extensions.py — tests assert stream == batch on the same input.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def stage_events(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Copy the events table into a streaming-friendly landing dir
    (µs timestamps — the driver testdata is ns, which no Spark source
    reads).  Stand-in for the scraper's daily JSONL drops."""
    from ..sources.readers import load_table

    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out_dir)
    return out_dir


def stream_events(spark: SparkSession, landing_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)  # bounded micro-batches
        .parquet(landing_dir)
    )


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked 1-day tumbling counts per event_type — the streaming
    twin of plans.extensions.tumbling_window_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("date").alias("window_day"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").cast("date").alias("window_day"), "n", "total_value")
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user (streaming-native analog of the
    batch gaps-and-islands sessionize_events query)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(
    spark: SparkSession, streaming_df: DataFrame, mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame to completion synchronously
    (Trigger.AvailableNow) into a memory sink; returns the final result
    as a batch DataFrame."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def incremental_ingest(
    spark: SparkSession, landing_dir: str, warehouse_dir: str, checkpoint_dir: str
) -> None:
    """The reference's daily load (S8-S10) as an exactly-once incremental
    pipeline: file-source stream -> foreachBatch -> date-partitioned
    parquet.  Re-running never duplicates: the checkpoint tracks which
    files each epoch consumed, and each epoch OVERWRITES its own
    ``epoch_id=N`` directory — foreachBatch is at-least-once, so a
    retried epoch must land idempotently (a plain append here would
    re-create the reference's duplicate-on-retry hazard, F:601-656).
    Readers see (epoch_id, ingest_date) as partition columns."""
    events = stream_events(spark, landing_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("ingest_date", F.col("ts").cast("date"))
            .write.mode("overwrite")
            .partitionBy("ingest_date")
            .parquet(f"{warehouse_dir}/epoch_id={epoch_id}")
        )

    q = (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def purchase_attribution_stream(
    events: DataFrame, events2: DataFrame, window_minutes: int = 60
) -> DataFrame:
    """Stream-stream interval join: each purchase attributed to the same
    user's clicks in the preceding ``window_minutes``.  Both sides carry
    watermarks so the join state is bounded — Spark retains only rows
    that can still find a partner inside the interval.  The batch twin
    is the identical join condition on static frames (asserted in
    tests)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events2.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id", "click_id", "p_user", "purchase_ts", "click_ts", "amount"
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: drop duplicate keys across micro-batches
    with watermark-bounded state (dropDuplicatesWithinWatermark — state
    for a key is held only while late duplicates are still admissible,
    so memory is bounded at any stream length; the batch twin is
    operators/dedup.exact_dedup).  Re-delivered files / at-least-once
    upstreams stop producing duplicate rows downstream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY §2.9 'stateful ops'):
    per-user running event count + value total maintained across
    micro-batches with applyInPandasWithState.  Emits one row per user
    per micro-batch with the cumulative totals."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def latest_state_stream(events: DataFrame) -> DataFrame:
    """Streaming latest-record-wins (the CDC-compaction twin of the
    batch ``dedup_latest_event`` query): per (user_id, event_type),
    keep the newest row by (ts, event_id) across micro-batches with
    applyInPandasWithState.  Emits the current winner per key per
    micro-batch; the LAST emission per key equals the batch answer.
    State is one (ts, event_id, value) triple per key — bounded by the
    keyspace, not the stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("latest_ts_us", T.LongType()),
        T.StructField("latest_event_id", T.LongType()),
        T.StructField("latest_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        best = state.get if state.exists else None
        for pdf in pdfs:
            # tuple comparison (ts, event_id) — same tie-break as the
            # batch window's ORDER BY ts DESC, event_id DESC
            ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
            for i in range(len(pdf)):
                cand = (
                    int(ts_us[i]),
                    int(pdf["event_id"].iloc[i]),
                    float(pdf["value"].iloc[i]),
                )
                if best is None or cand[:2] > best[:2]:
                    best = cand
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "latest_ts_us": [best[0]],
                "latest_event_id": [best[1]],
                "latest_value": [best[2]],
            }
        )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def latest_state_stream_tws(events: DataFrame) -> DataFrame:
    """``latest_state_stream`` on the MODERN stateful API
    (transformWithStateInPandas, Spark 4): a StatefulProcessor with a
    typed ValueState replaces the raw (get, update) tuple juggling of
    applyInPandasWithState — named state variables, explicit init/close
    lifecycle, and (on a real cluster) the RocksDB state store with
    changelog checkpointing.  Same semantics as the legacy twin; the
    test pins both against the batch dedup_latest_event answer.

    RUNTIME DEPENDENCY: the TWS Python worker speaks protobuf to the
    JVM state server — ``google.protobuf`` must be installed on workers
    (it ships with any real PySpark deployment; this container lacks
    it, so the test import-skips — same gating policy as demojize)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("latest_ts_us", T.LongType()),
        T.StructField("latest_event_id", T.LongType()),
        T.StructField("latest_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])

    class LatestProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._latest = handle.getValueState("latest", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            best = self._latest.get() if self._latest.exists() else None
            for pdf in rows:
                ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
                for i in range(len(pdf)):
                    cand = (
                        int(ts_us[i]),
                        int(pdf["event_id"].iloc[i]),
                        float(pdf["value"].iloc[i]),
                    )
                    if best is None or cand[:2] > tuple(best)[:2]:
                        best = cand
            self._latest.update(tuple(best))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "latest_ts_us": [best[0]],
                    "latest_event_id": [best[1]],
                    "latest_value": [best[2]],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id", "event_type").transformWithStateInPandas(
        statefulProcessor=LatestProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


# --------------------------------------------------------------------------
# Stream-static decontamination (documents stream vs broadcast benchmark)
# --------------------------------------------------------------------------
DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def stage_documents(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Copy the documents table into a streaming landing dir (stand-in
    for a crawler's rolling drops)."""
    from ..sources.readers import load_table

    load_table(spark, sf_dir, "documents").write.mode("overwrite").parquet(out_dir)
    return out_dir


def stream_documents(spark: SparkSession, landing_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(landing_dir)
    )


def contamination_stream(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_shared: int = 3,
) -> DataFrame:
    """Decontamination as ingest happens: the document stream is checked
    against a STATIC benchmark set via the same operator the batch
    catalog uses (stream-static broadcast join + aggregation).  The
    per-row shingle transform is stateless, so the only streaming state
    is the (doc_id, bench_id) count aggregate.  Run in 'complete' mode
    (the pair counts are monotone under AvailableNow replay)."""
    from ..operators.dedup import contamination_pairs

    return contamination_pairs(
        docs_stream, benchmark, "text", "doc_id", k=k, min_shared=min_shared
    )


def dsir_score_stream(
    docs_stream: DataFrame, lr_table: DataFrame, n_buckets: int = 512
) -> DataFrame:
    """DSIR importance scoring at ingest — the deployment shape of
    importance resampling: the log-ratio model is fit ONCE on a
    reference corpus (plans/training.dsir_lr_table, bounded at
    n_buckets rows) and every incoming document is scored map-only
    against the frozen table.  The bounded model is collected into the
    closure, so the stream side has NO aggregation and no state: append
    mode, watermark-free, retry-idempotent.

    Hashing parity with the batch scorer is exact: md5 first-8-hex-
    digits of the space-joined lowercase bigram, mod n_buckets —
    hashlib.md5 == Spark md5() == DuckDB md5(), and whitespace-run
    str.split() == split(trim(lower()), '\\s+') on whitespace-delimited
    text.  Weights are int64 micro-unit sums, so stream == batch is
    bit-exact (asserted in tests), not approximately equal."""
    import hashlib

    lut = {r["bucket"]: r["lr_micro"] for r in lr_table.collect()}

    def score(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                toks = (text or "").strip().lower().split()
                n = 0
                w = 0
                for a, b in zip(toks, toks[1:]):
                    h = (
                        int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:8], 16)
                        % n_buckets
                    )
                    n += 1
                    w += lut.get(h, 0)
                if n:
                    rows.append((doc_id, lang, n, w))
            yield pd.DataFrame(
                rows, columns=["doc_id", "lang", "n_bigrams", "weight_micro"]
            )

    return docs_stream.mapInPandas(
        score, "doc_id long, lang string, n_bigrams bigint, weight_micro bigint"
    )


def incremental_dedup_stream(
    docs_stream: DataFrame, store_fingerprints: DataFrame
) -> DataFrame:
    """Streaming ingest dedup: keep only new-batch documents whose
    normalized-text fingerprint is NOT already in the historical store
    (stream-static left_anti join — the static side is the bucketed
    fingerprint table in production, broadcast when small).  Stateless
    per micro-batch, so append mode works; combine with
    ``dedup_stream`` (dropDuplicatesWithinWatermark) to also collapse
    dups WITHIN the stream."""
    from ..functions.text import fingerprint

    tagged = docs_stream.withColumn("fp", fingerprint("text"))
    return tagged.join(store_fingerprints, "fp", "left_anti")


def lsh_dedup_stream(
    docs_stream: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    num_hashes: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """NEAR-duplicate rejection at ingest: each incoming document is
    checked against the static historical corpus via banded MinHash-LSH
    candidates + exact-Jaccard verification, emitting one
    ``(new_id, dup_of, jaccard)`` row per near-dup match — with ZERO
    streaming state (append mode, watermark-free, retry-idempotent).
    The exact-fingerprint twin is ``incremental_dedup_stream``; this is
    the fuzzy form a crawler front-end needs (re-crawls and mirrors are
    near-dups, not byte-dups).

    How it stays stateless:

    - shingle hashes, MinHash signatures, and the per-band bucket
      hashes are all computed ROW-LOCALLY on the stream side
      (``hashed_shingle_array_col`` + array_min over transform — the
      same xxhash64 values as the exploded batch operators, so stream
      and batch agree bit-for-bit);
    - candidates come from a stream-STATIC equi-join on
      (band, bucket) against the corpus's precomputed band relation
      (persisted once, reused every micro-batch);
    - a pair colliding in SEVERAL bands would emit duplicates, and a
      streaming ``distinct`` would be stateful — instead both sides
      carry their full band-hash arrays and each joined row keeps
      itself only when its band is the pair's FIRST common band
      (``array_position(zip_with(=), true)``), the same emit-once
      rule the banded interval join uses.  Exactly one row per
      colliding pair survives, row-locally.

    Recall follows the banded S-curve (``choose_bands``) exactly as in
    ``minhash_near_dup`` — the batch twin equality and the union-parity
    test pin both the values and the candidate structure.

    ``portable=True`` swaps every hash for the md5-derived engine-
    portable family (``_mh_coeffs`` universal hashes over STRING
    shingles, '|'-joined decimal band buckets — the exact scheme of
    ``near_dup_minhash_portable``), still fully row-local, so the whole
    ingest path — signatures, buckets, candidates, verification — can
    be replayed by a SQL oracle.  With identical rows it took 2.20 vs
    1.64 s at sf0.1 and 5.53 vs 3.28 s at a 10x replica (medians, 4
    cores); use the default for production ingest.
    """
    from ..functions.text import shingles
    from ..operators.dedup import (
        _MH_FOLD,
        _MH_PRIME,
        _md5_hash60,
        _mh_coeffs,
        _persist,
        choose_bands,
        hashed_shingle_array_col,
        hashed_shingle_arrays,
        hashed_shingle_rows,
        minhash_portable,
        minhash_signatures,
        shingle_string_rows,
    )

    num_bands, rows_per_band = choose_bands(threshold, num_hashes)

    def annotate(df: DataFrame, side: str) -> DataFrame:
        sh_col = (
            shingles(text_col, k) if portable else hashed_shingle_array_col(text_col, k)
        )
        d = df.select(
            F.col(id_col).alias(f"{side}_id"), sh_col.alias(f"{side}_sh")
        ).filter(F.size(f"{side}_sh") > 0)
        if portable:
            # one md5 per shingle, fanned to the slots via (a*x+b) mod P
            d = d.withColumn(
                "_xs",
                F.transform(
                    F.col(f"{side}_sh"),
                    lambda s: _md5_hash60(s) % F.lit(_MH_FOLD),
                ),
            )

        def sig(i: int):
            # the slot id / coefficients must be captured by a CLOSURE,
            # not a default parameter: a two-parameter lambda makes
            # transform() pass the ARRAY INDEX as the second argument,
            # silently shadowing the capture and collapsing all hash
            # functions into one
            if portable:
                a, b = _mh_coeffs(num_hashes)[i]
                return F.array_min(
                    F.transform(
                        F.col("_xs"),
                        lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MH_PRIME),
                    )
                )
            return F.array_min(
                F.transform(
                    F.col(f"{side}_sh"), lambda x: F.xxhash64(F.lit(i), x)
                )
            )

        sigs = [sig(i).alias(f"h{i}") for i in range(num_hashes)]
        d = d.select(f"{side}_id", f"{side}_sh", *sigs)

        def bucket(b: int):
            rows = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            if portable:
                return F.concat_ws("|", *[r.cast("string") for r in rows])
            return F.xxhash64(*rows)

        band_hashes = F.array(*[bucket(b) for b in range(num_bands)])
        return d.select(
            f"{side}_id", f"{side}_sh", band_hashes.alias(f"{side}_bands")
        )

    def annotate_static(df: DataFrame, side: str) -> DataFrame:
        """The static-plan twin of ``annotate``: identical values (min is
        multiset-invariant, band order preserved), but built from the
        exploded shingle-ROW relations so every hash runs as a CODEGEN
        expression over rows instead of an interpreted per-element HOF
        lambda.  Only a STREAMING side must stay row-local (stateless on
        a streaming plan); any static side takes this path — the
        interpreted form measured ~8x slower on the corpus annotation at
        sf0.1 (and the gap grows with input size; it is per-element
        non-codegen expression evaluation)."""
        if portable:
            rows = _persist(shingle_string_rows(df, text_col, id_col, k))
            sh = rows.groupBy("doc_id").agg(
                F.collect_set("sh").alias(f"{side}_sh")
            )
            sigs = minhash_portable(
                df, text_col, id_col, num_hashes, k, shingle_rows=rows
            )
            pref = "mh"
        else:
            rows = _persist(hashed_shingle_rows(df, text_col, id_col, k))
            sh = hashed_shingle_arrays(rows).select(
                "doc_id", F.col("shingles").alias(f"{side}_sh")
            )
            sigs = minhash_signatures(
                df, text_col, id_col, num_hashes, k, shingle_rows=rows
            )
            pref = "h"

        def bucket(b: int):
            rows_b = [
                F.col(f"{pref}{b * rows_per_band + r}") for r in range(rows_per_band)
            ]
            if portable:
                return F.concat_ws("|", *[r.cast("string") for r in rows_b])
            return F.xxhash64(*rows_b)

        bands = F.array(*[bucket(b) for b in range(num_bands)])
        return sigs.select(
            F.col("doc_id").alias(f"{side}_id"), bands.alias(f"{side}_bands")
        ).join(sh.select(F.col("doc_id").alias(f"{side}_id"), f"{side}_sh"),
               f"{side}_id")

    if not corpus.isStreaming:
        # computed once (codegen exploded path), reread every micro-batch
        # otherwise.  Persist the PRE-explode relation: caching after
        # posexplode would store each corpus doc's full old_sh/old_bands
        # arrays num_bands times (a ~b-fold cache inflation on the
        # historical corpus); the explode itself is a cheap codegen
        # generator re-run per micro-batch.
        annotated = _persist(annotate_static(corpus, "old"))
    else:
        annotated = annotate(corpus, "old")
    static_side = annotated.select(
        "old_id", "old_sh", "old_bands",
        F.posexplode("old_bands").alias("band", "bucket"),
    )
    # the incoming side only needs the row-local interpreted form on an
    # actual streaming plan; the batch twin (the catalog/driver run)
    # takes the same codegen exploded path as the corpus — identical
    # values by construction, ~8x cheaper per doc
    incoming = (
        annotate(docs_stream, "new")
        if docs_stream.isStreaming
        else annotate_static(docs_stream, "new")
    )
    stream_side = incoming.select(
        "new_id", "new_sh", "new_bands",
        F.posexplode("new_bands").alias("band", "bucket"),
    )
    first_common = F.array_position(
        F.zip_with("new_bands", "old_bands", lambda a, b: a == b), True
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| (shingle sets are distinct): one
    # array_intersect per candidate, no merged array materialized just
    # for its size.  Two-level projection so the intersect runs once
    # across the filter and the jaccard value (codegen CSE does not
    # dedupe non-cheap aliases).
    return (
        stream_side.join(static_side, ["band", "bucket"])
        .filter(F.col("band") + 1 == first_common)
        .select(
            "new_id",
            "old_id",
            F.size(F.array_intersect("new_sh", "old_sh")).alias("ni"),
            (F.size("new_sh") + F.size("old_sh")).alias("nab"),
        )
        .withColumn("jaccard", F.col("ni") / (F.col("nab") - F.col("ni")))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "new_id",
            F.col("old_id").alias("dup_of"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def heavy_hitters_stream(
    items: DataFrame, k: int = 8, shards: int = 8, item_col: str = "item"
) -> DataFrame:
    """Streaming Misra-Gries heavy-hitter candidates (the streaming twin
    of ``operators/sketches.heavy_hitters_exact``): items are sharded by
    item hash (ALL copies of an item land in one shard, so per-shard
    counts are whole-item counts), and each shard maintains an MG(k)
    summary across micro-batches with applyInPandasWithState.

    State per shard is <= k (item, count) pairs — bounded regardless of
    stream length or vocabulary.  Each micro-batch emits the shard's
    current candidates; the LAST emission per shard merges into the
    global candidate set, which carries the MG merge guarantee: any
    item whose count within its shard exceeds n_shard/k is present.
    Exactness, as in batch, comes from a candidate-restricted second
    pass over at-rest data."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("item", T.StringType()),
        T.StructField("c", T.LongType()),
        T.StructField("version", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("version", T.LongType()),
    ])

    from ..operators.sketches import mg_merge

    def update(key, pdfs, state: GroupState):
        if state.exists:
            saved = state.get
            counter = dict(zip(saved[0], saved[1]))
            version = int(saved[2]) + 1
        else:
            counter, version = {}, 0
        for pdf in pdfs:
            counter = mg_merge(counter, pdf[item_col].value_counts(), k)
        state.update(
            (list(counter.keys()), [int(v) for v in counter.values()], version)
        )
        # version lets a consumer reduce the update-mode emission stream
        # to the FINAL state per shard (max version), not the union of
        # everything ever emitted
        yield pd.DataFrame(
            {
                "shard": [int(key[0])] * len(counter),
                "item": list(counter.keys()),
                "c": [int(v) for v in counter.values()],
                "version": [version] * len(counter),
            }
        )

    sharded = items.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(item_col)), F.lit(shards)).cast("int")
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


EMB_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])


def stage_embeddings(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Copy the embeddings table into a streaming landing dir (stand-in
    for an embedding service's rolling output)."""
    from ..sources.readers import load_table

    load_table(spark, sf_dir, "embeddings").write.mode("overwrite").parquet(
        out_dir
    )
    return out_dir


def stream_embeddings(spark: SparkSession, landing_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(landing_dir)
    )


def pq_encode_stream(emb_stream: DataFrame, codebooks) -> DataFrame:
    """Streaming product-quantization encode: vectors compress to byte
    codes AS THEY ARRIVE.  ``pq_encode`` is a stateless Arrow-batched
    mapInPandas against broadcast codebooks, so it applies to a
    streaming relation unchanged (append mode, zero streaming state) —
    the pattern for maintaining a PQ index incrementally instead of
    re-encoding 100 TB of vectors per refresh.  Codebooks come from
    ``operators.similarity.pq_train`` on a historical sample; encode
    determinism (same codebooks -> same codes) is what makes replayed
    micro-batches idempotent."""
    from ..operators.similarity import pq_encode

    return pq_encode(emb_stream, codebooks)


def cms_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming Count-Min maintenance: the CMS *cell relation* is just
    a (row, bucket) -> count aggregate, so keeping it current over a
    token stream is a plain streaming groupBy in complete mode — state
    is bounded at depth x width cells NO MATTER how many distinct
    tokens flow past (contrast: a streaming per-token count grows with
    vocabulary).  The batch operator and this twin share the bucket
    hashing, so stream-fed cells must equal ``cms_build`` of the same
    corpus — asserted in tests."""
    from ..functions import text as TX
    from ..operators.sketches import cms_build

    toks = docs_stream.select(F.explode(TX.tokens("text")).alias("token"))
    return cms_build(toks, "token")


def segment_dedup_stream(
    docs_stream: DataFrame,
    corpus: DataFrame,
    seg: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SUB-document dedup at ingest: each incoming document's fixed
    ``seg``-token segments (functions/text.segment_hashes — the same
    digests as the batch operator plans/curation.segment_dedup_reassembly)
    are checked against the static historical corpus's segment-digest
    set; emits one ``(doc_id, seg_idx, h)`` row per segment NOT already
    in the corpus.  The boilerplate-stripping front-end of a crawler:
    repeated headers/footers/navigation vanish at ingest, per-document
    novel content survives.

    Stateless by construction — segmentation and hashing are row-local
    generators, the corpus check is a stream-static left_anti equi-join
    on the 16-byte digest — so append mode works with zero streaming
    state, no watermark, retry-idempotent (the same micro-batch replay
    emits the same rows).  The static side reduces to DISTINCT digests
    and is persisted once (pre-aggregated: one string column, the
    minimal possible cached footprint), reread per micro-batch.  At
    scale the anti-join is digest-keyed — no text ever shuffles, and a
    mega-duplicated corpus segment is ONE row on the build side."""
    from ..functions.text import segment_hashes, tokens
    from ..operators.dedup import _persist

    def seg_rows(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
        ).select(
            "doc_id",
            F.posexplode(segment_hashes(F.col("toks"), seg)).alias(
                "seg_idx", "h"
            ),
        )

    known = seg_rows(corpus).select("h").distinct()
    if not corpus.isStreaming:
        known = _persist(known)
    return seg_rows(docs_stream).join(known, "h", "left_anti")
