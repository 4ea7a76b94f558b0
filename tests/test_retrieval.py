"""BM25 retrieval (operators/retrieval.py): ranking sanity, rare-term
weighting, self-exclusion, and the max-df prune."""

from __future__ import annotations

import pytest

from dedup_spark.operators.retrieval import bm25_topk


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "zebra quantum flux harmonic resonance chamber"),  # query
        (2, "zebra quantum flux harmonic resonance chamber extra"),  # near-dup
        (3, "zebra crossing in the city"),  # one rare shared term (df=3 < N/2)
        (4, "completely different words about cooking pasta"),
        (5, "more unrelated content regarding gardening tools"),
        (6, "the filler document with the common the words"),
        (7, "yet another filler about mountains and rivers"),
        (8, "final filler mentioning oceans and deserts"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _topk(spark, corpus, **kw):
    q = corpus.filter("doc_id = 1")
    return sorted(
        (r.rnk, r.neighbor_id, r.score)
        for r in bm25_topk(corpus, q, k=5, **kw).collect()
    )


def test_near_dup_ranks_first_and_self_excluded(spark, corpus):
    got = _topk(spark, corpus)
    assert got[0][1] == 2  # the near-duplicate wins
    assert all(nid != 1 for _, nid, _ in got)  # self excluded
    ids = [nid for _, nid, _ in got]
    assert 3 in ids  # one shared rare term still retrieves
    # docs sharing nothing with the query never appear
    assert 4 not in ids and 5 not in ids


def test_scores_descend_with_rank(spark, corpus):
    got = _topk(spark, corpus)
    scores = [s for _, _, s in got]
    assert scores == sorted(scores, reverse=True)


def test_max_df_prune_drops_common_terms(spark):
    # 'common' is in 4/8 docs (df = N/2); at ratio 0.5 it can't be the
    # retrieval signal, so doc 4 (sharing ONLY 'common' with the
    # query) drops out; rare1/rare2 (df=2 < N/2) survive either way
    rows = [
        (1, "common rare1 rare2"),
        (2, "common rare1 other"),
        (3, "common rare2 thing"),
        (4, "common alone stuff"),
        (5, "filler one unrelated"),
        (6, "filler two separate"),
        (7, "filler three distinct"),
        (8, "filler four standalone"),
    ]
    import pyspark.sql

    spark_df = pyspark.sql.SparkSession.getActiveSession().createDataFrame(
        rows, "doc_id long, text string"
    )
    q = spark_df.filter("doc_id = 1")
    strict = {
        r.neighbor_id
        for r in bm25_topk(spark_df, q, k=5, max_df_ratio=0.5).collect()
    }
    loose = {
        r.neighbor_id
        for r in bm25_topk(spark_df, q, k=5, max_df_ratio=1.0).collect()
    }
    assert strict == {2, 3}
    assert loose == {2, 3, 4}


def test_zipf_corpus_planted_neighbors_rank_first(spark):
    """The driver-gate corpus: every query (doc 18 mod 100) must
    retrieve its planted 10%-mutated copy (doc+1) at rank 1 under the
    PRODUCTION prune — 20/20 on the pinned fixture."""
    from dedup_spark.fixtures.materialize import fixture_parquet
    from pyspark.sql import functions as F

    docs = spark.read.parquet(fixture_parquet("zipf_docs"))
    out = bm25_topk(
        docs, docs.filter(F.col("doc_id") % 100 == 18), k=1
    ).collect()
    assert len(out) == 20
    assert all(r.neighbor_id == r.query_id + 1 for r in out)


def test_empty_and_null_docs_do_not_pollute_stats(spark):
    """Empty/whitespace/null docs must not count toward N or avgdl and
    must never index the '' term (split('') yields [''] — the guarded
    tokenizer turns it into an empty array)."""
    rows = [
        (1, "zebra alpha beta"),
        (2, "zebra alpha gamma"),
        (3, ""),
        (4, "   "),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    clean = df.filter("doc_id <= 2")
    q = df.filter("doc_id = 1")
    with_junk = {
        (r.query_id, r.neighbor_id, r.score)
        for r in bm25_topk(df, q, k=5, max_df_ratio=1.0).collect()
    }
    without = {
        (r.query_id, r.neighbor_id, r.score)
        for r in bm25_topk(clean, q, k=5, max_df_ratio=1.0).collect()
    }
    assert with_junk == without  # junk rows are invisible to the index
    assert all(nid not in (3, 4, 5) for _, nid, _ in with_junk)
