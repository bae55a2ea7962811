"""Smoke tests of the driver contract (__spark_entry__.py)."""

from __future__ import annotations


def test_entry_returns_rows(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    r = rows[0].asDict()
    assert r["n_train"] > 0 and r["n_test"] > 0
    assert r["b1"] is not None and r["rmse"] is not None


def test_queries_and_oracles_align():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles).issubset(set(qs))
    # the vast majority must carry an oracle (rows-only is the exception)
    assert len(oracles) >= 0.75 * len(qs)


def test_catalog_registers_the_named_function():
    """Every CATALOG entry's fn must BE the function named after the
    query — a helper def inserted between @register and the query def
    silently steals the decorator and registers the helper (the r12
    cross_modal_dedup_agreement incident: unit tests importing the
    function directly stayed green while the driver-facing catalog
    entry returned a tuple)."""
    from data_engineering_individual_assignment_spark import plans

    mismatched = {
        name: q.fn.__name__
        for name, q in plans.CATALOG.items()
        if q.fn.__name__ != name
    }
    assert not mismatched


def test_queries_md_matches_catalog():
    """QUERIES.md is generated from the catalog; a query added, renamed
    or re-documented without `python docs_queries.py` leaves it stale."""
    import os

    import docs_queries

    path = os.path.join(os.path.dirname(docs_queries.__file__), "QUERIES.md")
    with open(path) as fh:
        assert fh.read() == docs_queries.render()


def test_load_table_schema_cache(spark):
    """The r12 schema cache: the second load of a path must take the
    explicit-schema fast path and produce an identical schema AND
    identical rows (covers the events nanos->micros rewrite, whose
    dtype check must see the same bigint on both paths)."""
    from data_engineering_individual_assignment_spark.sources import readers

    sf = "/root/testdata/sf0.001"
    for name in ("events", "nation"):
        readers._per_session(readers._SCHEMA_CACHE, spark).pop(
            f"{sf}/{name}.parquet", None
        )
        first = readers.load_table(spark, sf, name)
        assert (
            f"{sf}/{name}.parquet"
            in readers._per_session(readers._SCHEMA_CACHE, spark)
        )
        second = readers.load_table(spark, sf, name)
        assert first.schema == second.schema
        a = sorted(map(str, first.limit(50).collect()))
        b = sorted(map(str, second.limit(50).collect()))
        assert a == b


def test_metadata_caches_are_session_scoped_and_invalidatable(spark, tmp_path):
    """r13 cache-keying contract: (a) entries are keyed by the LIVE
    session object — a different SparkSession object never sees another
    session's entries (the r12 id(spark) key could alias after GC);
    (b) a table rewritten in place gets its cached schema AND
    partition-count memo dropped by invalidate_table, so later probes
    re-infer from the new layout."""
    from data_engineering_individual_assignment_spark.operators import dedup
    from data_engineering_individual_assignment_spark.sources import readers

    # ---- (b) rewrite invalidation: build a tiny 4-file table at dst,
    # read it via load_table (populating both caches), then compact a
    # source table OVER dst (1 output file) and check both the schema
    # entry and the memoized nparts refresh
    src_dir, dst_dir = str(tmp_path / "src"), str(tmp_path / "dst")
    src = f"{src_dir}/events.parquet"
    dst = f"{dst_dir}/events.parquet"
    base = spark.range(0, 1000).selectExpr(
        "id AS event_id", "id % 7 AS user_id"
    )
    base.repartition(4).write.mode("overwrite").parquet(src)
    base.repartition(4).write.mode("overwrite").parquet(dst)
    df = readers.load_table(spark, dst_dir, "events")
    dedup._scan_partitions(df)  # populates the nparts memo for dst
    assert dst in readers._per_session(readers._SCHEMA_CACHE, spark)
    assert dst in dedup._NPARTS_CACHE.get(spark, {})
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        compact_parquet,
    )

    compact_parquet(spark, src, dst, target_file_mb=1024)
    # both metadata entries for dst must be gone (stale layout dropped)
    assert dst not in readers._per_session(readers._SCHEMA_CACHE, spark)
    assert dst not in dedup._NPARTS_CACHE.get(spark, {})
    df2 = readers.load_table(spark, dst_dir, "events")
    # re-probe matches a fresh uncached probe of the rewritten table
    assert dedup._scan_partitions(df2) == df2.rdd.getNumPartitions()
    sf_dir = dst_dir  # for part (a) below

    # ---- (a) session scoping: a brand-new session object must not see
    # this session's entries even before any GC/aliasing can occur
    new_session = spark.newSession()
    try:
        assert readers._SCHEMA_CACHE.get(new_session) in (None, {})
        assert dedup._NPARTS_CACHE.get(new_session) in (None, {})
        readers.load_table(new_session, sf_dir, "events")
        per_new = readers._per_session(readers._SCHEMA_CACHE, new_session)
        per_old = readers._per_session(readers._SCHEMA_CACHE, spark)
        assert per_new is not per_old
    finally:
        # newSession shares the SparkContext; nothing to stop
        pass


def test_scan_partitions_ignores_column_named_like_tag(spark):
    """ADVICE r12: a user DataFrame with a column literally named like
    the internal tag must fall back to the probe, not crash (getattr
    would resolve the name as a Column via DataFrame.__getattr__)."""
    from data_engineering_individual_assignment_spark.operators import dedup

    df = spark.range(0, 10).selectExpr(
        "id AS doc_id", "'x' AS _dei_nparts_path"
    )
    n = dedup._scan_partitions(df)
    assert isinstance(n, int) and n >= 1


def test_queries_release_previous_intermediates(spark):
    """The queries() wrapper releases the previous query's cached
    intermediates before it builds the next query, so a long-lived
    session running the catalog holds at most one query's blocks."""
    import __spark_entry__ as entrymod

    from .conftest import SF_SMALL

    qs = entrymod.queries()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for name in (
        "near_dup_pairs",
        "near_dup_pairs",
        "video_near_dup_signature",
        "near_dup_pairs",
    ):
        qs[name](spark, SF_SMALL).collect()
    assert jsc.getPersistentRDDs().size() <= before + 1


# Public functions in operators/ and functions/ that no package code,
# root script or perfbench/ reaches, each with the reason it stays.
KEEP = {
    "bpe_apply": "inference side of bpe_train_merges (COVERAGE); the "
    "train/apply consistency test pins it",
    "demojize_udf": "reference-parity surface (COVERAGE C4)",
    "slash_date_to_date": "reference-parity surface: reads C5's warehouse "
    "dates back (golden-parity test)",
    "evaluate": "reference-parity surface: evaluate_algorithm (U1)",
    "exact_random_split": "reference-parity surface: exact-count split (U1)",
    "exact_median": "test reference for the histogram-refinement median",
    "simhash_near_pairs": "measured win over simhash_near_pairs_portable: "
    "4.60 vs 5.48 s at a 10x replica",
    "subfingerprints": "per-clip test reference for the batched fingerprints",
    "pq_train": "trained-PQ recall path: recall pins >= 0.4 and >= 0.9 "
    "that the frozen codebooks cannot give",
    "pq_topk": "trained-PQ recall path (see pq_train)",
    "pq_topk_rerank": "trained-PQ recall path (see pq_train)",
}


def test_no_unserved_public_functions():
    """Every public top-level function in operators/ and functions/ is
    reached by a call from the package, a root script or perfbench/,
    directly or through other package functions; tests do not count.
    Names resolve loosely: an attribute access ``x.f`` reaches every
    ``f``, a bare name only one defined in or imported into its file."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "data_engineering_individual_assignment_spark"
    checked = {pkg / "operators", pkg / "functions"}
    files = [*pkg.rglob("*.py"), *root.glob("*.py"), *root.glob("perfbench/*.py")]

    def refs(node, scope):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                if n.id in scope:
                    out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out.update(a.name for a in n.names)
        return out

    calls, public, reached = {}, {}, set(KEEP)
    for f in files:
        tree = ast.parse(f.read_text())
        scope = {
            a.asname or a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
        } | {n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
        if f.parent not in checked:
            reached |= refs(tree, scope)
            continue
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                calls.setdefault(node.name, set()).update(refs(node, scope) - {node.name})
                if not node.name.startswith("_"):
                    public[node.name] = f"{f.relative_to(root)}:{node.lineno}"
            else:
                reached |= refs(node, scope)
    todo = list(reached)
    while todo:
        for name in calls.get(todo.pop(), ()):
            if name not in reached:
                reached.add(name)
                todo.append(name)
    assert set(KEEP) <= set(public), set(KEEP) - set(public)
    unserved = {name: public[name] for name in set(public) - reached}
    assert not unserved, unserved
