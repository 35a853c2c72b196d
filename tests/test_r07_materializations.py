"""Focused guards for the r7 materialization layer (sigs_mat / pairs_mat /
cc_mat / tokcap_mat): the caches must never serve a stale corpus, and the
declared queries must actually read the cached relations (the whole point
of the round — a silent recompute per reference is the bug the round
fixed)."""

import pytest

from t2p_spark import textkit

DOCS_COLS = "doc_id long, source string, n_chars int, text string"


def _docs(spark, rows):
    df = spark.createDataFrame(rows, DOCS_COLS)
    df.createOrReplaceTempView("documents")
    textkit.ensure_documents_tok(spark, force=True)


def _restore(spark):
    from tests.test_scale_hardening import _restore_views

    _restore_views(spark)


def _near_dup_rows(tag, n=6):
    # n docs sharing one long near-identical text -> guaranteed LSH pairs
    base = " ".join(f"{tag}tok{j}" for j in range(40))
    return [(i, "s", len(base), base + f" tail{i}") for i in range(n)]


def test_pairs_and_cc_rebuild_on_corpus_swap(spark):
    """A swapped ``documents`` view (documents_tok rebuilt by force) must
    invalidate sigs/pairs/cc: serving corpus A's pairs against corpus B
    would be silent corruption."""
    try:
        _docs(spark, _near_dup_rows("aaa"))
        textkit.prepare_textkit_views(spark, "dedup_minhash_lsh")
        pairs_a = set(map(tuple, spark.sql(
            textkit.spark_sql_queries()["dedup_minhash_lsh"]).collect()))
        cc_a = set(map(tuple, textkit.ensure_cc_mat(spark).collect()))
        assert pairs_a, "corpus A must produce candidate pairs"

        # corpus B: different doc_ids (offset by 100), different text
        rows_b = [(i + 100, s, n, t)
                  for i, s, n, t in _near_dup_rows("bbb", n=4)]
        _docs(spark, rows_b)
        textkit.prepare_textkit_views(spark, "dedup_minhash_lsh")
        pairs_b = set(map(tuple, spark.sql(
            textkit.spark_sql_queries()["dedup_minhash_lsh"]).collect()))
        cc_b = set(map(tuple, textkit.ensure_cc_mat(spark).collect()))
        assert pairs_b and all(a >= 100 and b >= 100 for a, b in pairs_b), \
            f"stale pairs served after corpus swap: {sorted(pairs_b)[:5]}"
        assert all(d >= 100 for d, _rep in cc_b), "stale cc labels"
        assert pairs_a != pairs_b
        assert cc_a != cc_b
    finally:
        _restore(spark)


def test_pair_consumers_read_materialized_pairs(spark):
    """The declared dedup_minhash_lsh query must be a scan of the cached
    pairs_mat relation (InMemoryRelation in its optimized plan), not a
    re-derivation of the band self-join — and the cached build plan must
    be CTE-free (a CTERelation inside a cached plan defeats
    CacheManager's canonicalized match; observed r7)."""
    try:
        _docs(spark, _near_dup_rows("ccc"))
        textkit.prepare_textkit_views(spark, "dedup_minhash_lsh")
        df = spark.sql(textkit.spark_sql_queries()["dedup_minhash_lsh"])
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in optimized, optimized[:500]
        # the consuming side must not re-plan the self-join: above the
        # InMemoryRelation there is only the projection
        head = optimized.split("InMemoryRelation", 1)[0]
        assert "Join" not in head, head
        assert "WITH" not in textkit.lsh_pairs_build_sql().upper().split(
            "SELECT", 1)[0], "cached build must stay CTE-free"
        assert "WITH" not in textkit.tokcap_build_sql().upper().split(
            "SELECT", 1)[0], "cached build must stay CTE-free"
    finally:
        _restore(spark)


def test_tokcap_preset_rebuilds_per_cap(spark):
    """tokcap_mat is keyed by the jaccard_max_df preset: two different
    caps over one corpus must produce different capped streams (the
    preset lives in the BUILD, so a stale cap would silently change the
    operator's semantics)."""
    try:
        # one shingle shared by 3 docs, another by 2 -> cap=2 drops the
        # hot one, cap=64 keeps both
        base = "w0 w1 w2 w3"
        rows = [(1, "s", 11, base + " x1"), (2, "s", 11, base + " x2"),
                (3, "s", 11, base + " x3")]
        _docs(spark, rows)
        textkit.prepare_textkit_views(spark, "ngram_jaccard_pairs",
                                      jaccard_max_df=64)
        n_default = spark.table("tokcap_mat").count()
        textkit.prepare_textkit_views(spark, "ngram_jaccard_pairs",
                                      jaccard_max_df=2)
        n_capped = spark.table("tokcap_mat").count()
        assert n_capped < n_default, (n_capped, n_default)
    finally:
        _restore(spark)


def test_rebuilt_stage_unpersists_what_it_replaces(spark):
    """A stage rebuild (corpus swap, preset change) must release the
    DataFrames it replaces — a stale cached corpus otherwise stays pinned
    in executor memory for the rest of the session."""
    from t2p_spark.session import drop, stage

    try:
        _docs(spark, _near_dup_rows("ddd"))
        sigs_a = textkit.ensure_minhash_sigs(spark)
        assert sigs_a.is_cached
        assert textkit.ensure_minhash_sigs(spark) is sigs_a  # a hit
        _docs(spark, _near_dup_rows("eee"))
        sigs_b = textkit.ensure_minhash_sigs(spark)
        assert sigs_b is not sigs_a
        assert sigs_b.is_cached and not sigs_a.is_cached

        # list values (several relations owned by one stage) and drop()
        pair = stage(spark, "probe_pair",
                     lambda: [spark.range(3).cache(), spark.range(4).cache()],
                     key=1)
        newer = stage(spark, "probe_pair", lambda: [spark.range(5).cache()],
                      key=2)
        assert not any(df.is_cached for df in pair)
        drop(spark, "probe_pair")
        assert not newer[0].is_cached
    finally:
        _restore(spark)


def test_new_session_never_sees_another_sessions_stage(spark):
    """Stages are keyed per session lifetime (session_key): a
    ``newSession()`` shares the SparkContext but not its temp views, so
    it must build its own entry, never receive the parent's."""
    from t2p_spark.session import drop, generation, stage

    other = spark.newSession()
    try:
        assert stage(spark, "probe_owner", lambda: "parent") == "parent"
        assert generation(other, "probe_owner") == 0
        assert stage(other, "probe_owner", lambda: "child") == "child"
        assert stage(spark, "probe_owner", lambda: "again") == "parent"
        drop(other, "probe_owner")
        assert stage(spark, "probe_owner", lambda: "again") == "parent"
        assert generation(spark, "probe_owner") == 1
    finally:
        drop(spark, "probe_owner")
        drop(other, "probe_owner")
