"""Rank-identity of the compressed-index scorers (block-max WAND and
vectorized TAAT) vs the Python oracle AND the exact join+agg path —
the north rule's brute-force == WAND property."""

from __future__ import annotations

import pytest

from alertsage_spark.index.segments import build_segments, load_index
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.refqueries import REFERENCE_QUERIES
from alertsage_spark.query.wand import wand_topk

K = 10


@pytest.fixture(scope="module")
def seg_index(spark, documents_df, tmp_path_factory):
    d = tmp_path_factory.mktemp("wandidx") / "idx"
    build_segments(
        spark, documents_df.select("doc_id", "text"), str(d), n_shards=8, n_groups=2
    )
    return load_index(spark, str(d))


@pytest.fixture(scope="module")
def doc_oracle(documents_df):
    rows = documents_df.select("doc_id", "text").collect()
    return BM25Oracle([(r["doc_id"], r["text"]) for r in rows])


def _collect(df):
    out: dict[str, list] = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"], r["rank"]))
    return out


QUERIES = [(cid, text) for cid, _l, text in REFERENCE_QUERIES] + [
    ("VOCAB_1", "data stream merge join window"),
    ("VOCAB_2", "spark query filter"),
    ("VOCAB_3", "the the the"),
    ("EMPTY", "zzz qqq notindocs"),
]


@pytest.mark.parametrize("algo", ["wand", "taat", "auto"])
def test_rank_identity_vs_oracle(spark, seg_index, doc_oracle, algo):
    got = _collect(wand_topk(spark, seg_index, QUERIES, k=K, algo=algo))
    for qid, text in QUERIES:
        expected = doc_oracle.topk(text, k=K)
        hits = got.get(qid, [])
        assert [h[0] for h in hits] == [e[0] for e in expected], (algo, qid)
        for h, e in zip(hits, expected):
            assert abs(h[1] - e[1]) <= 1e-6, (algo, qid, h, e)


def test_code_mode_rank_identity(spark, corpus_rows, tmp_path_factory):
    """Code-mode (identifier + trigram terms) compressed index must be
    rank-identical to the Python oracle in code mode."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(corpus_rows)
    docs = df.select(
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2**62)).alias("doc_id"),
        F.col("content").alias("text"),
    )
    d = tmp_path_factory.mktemp("codeidx") / "idx"
    build_segments(spark, docs, str(d), n_shards=4, n_groups=2, mode="code")
    idx = load_index(spark, str(d))
    oracle = BM25Oracle(
        [(r["doc_id"], r["text"]) for r in docs.collect()], mode="code"
    )
    queries = [
        ("Q1", "parseConfig"), ("Q2", "spark flushQueue"),
        ("Q3", "blockMax"),  # trigram-only partial identifier match
        ("Q4", "read_buffer deltaEncode"),
    ]
    for algo in ("wand", "taat"):
        got = _collect(wand_topk(spark, idx, queries, k=8, algo=algo))
        for qid, text in queries:
            expected = oracle.topk(text, k=8)
            hits = got.get(qid, [])
            assert [h[0] for h in hits] == [e[0] for e in expected], (algo, qid)
            for h, e in zip(hits, expected):
                assert abs(h[1] - e[1]) <= 1e-6, (algo, qid)


def test_wand_equals_taat_on_random_queries(spark, seg_index, doc_oracle):
    import random

    rng = random.Random(7)
    vocab = list(doc_oracle.df.keys())
    queries = [
        (f"R{i}", " ".join(rng.sample(vocab, rng.randint(1, 6)))) for i in range(20)
    ]
    a = _collect(wand_topk(spark, seg_index, queries, k=5, algo="wand"))
    b = _collect(wand_topk(spark, seg_index, queries, k=5, algo="taat"))
    assert a == b


def test_fast_path_identical_to_distributed(spark, seg_index, doc_oracle):
    """Serving-mode driver-local fast path must be result-identical to
    the distributed scorer (same kernels by construction — verified)."""
    from alertsage_spark.index.segments import load_index

    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    assert prepared.df_map is not None and prepared.dl_map is not None
    dist = _collect(wand_topk(spark, seg_index, QUERIES, k=K, algo="auto"))
    fast = _collect(wand_topk(spark, prepared, QUERIES, k=K, algo="auto"))
    assert fast == dist
    # and still rank-identical to the oracle
    for qid, text in QUERIES:
        expected = doc_oracle.topk(text, k=K)
        hits = fast.get(qid, [])
        assert [h[0] for h in hits] == [e[0] for e in expected], qid


def test_fast_path_repeat_query_serves_from_term_cache(spark, seg_index):
    """Second identical query must not touch the JVM at all for postings:
    the serving LRU (term_rows_cache) holds the collected rows, so the
    fast path works even if the segments DataFrame is unusable."""
    from alertsage_spark.index.segments import load_index

    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    q = [("R1", "data stream merge join window")]
    first = _collect(wand_topk(spark, prepared, q, k=K, algo="auto"))
    assert first

    class _Poison:
        def filter(self, *_a, **_k):
            raise AssertionError("repeat query hit the JVM for postings")

    real_segments = prepared.segments
    prepared.segments = _Poison()
    try:
        second = _collect(wand_topk(spark, prepared, q, k=K, algo="auto"))
    finally:
        prepared.segments = real_segments
    assert second == first


def test_term_cache_lru_evicts_by_postings_budget(spark, seg_index):
    import alertsage_spark.query.wand as W
    from alertsage_spark.index.segments import load_index

    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    wand_topk(spark, prepared, [("A", "data stream merge")], k=K)
    assert prepared.term_rows_cache
    old_cap = W.TERM_CACHE_MAX_POSTINGS
    W.TERM_CACHE_MAX_POSTINGS = 0  # force eviction of everything non-current
    try:
        wand_topk(spark, prepared, [("B", "window join")], k=K)
        from alertsage_spark.tokenizer import tokenize_py

        keep = set(tokenize_py("window join", mode="text"))
        assert set(prepared.term_rows_cache) <= keep
    finally:
        W.TERM_CACHE_MAX_POSTINGS = old_cap


def test_term_cache_running_total_tracks_cached_postings(spark, seg_index, monkeypatch):
    """The LRU keeps its postings total incrementally: after every miss
    and eviction it equals a sum recomputed over the cached rows, and
    prepare_for_queries resets it with the cache."""
    import alertsage_spark.query.wand as W

    def recomputed(index):
        return sum(int(r["n_postings"]) for rows in index.term_rows_cache.values()
                   for r in rows)

    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    texts = [text for _qid, text in QUERIES]
    for text in texts:
        wand_topk(spark, prepared, [("Q", text)], k=K)
    full = recomputed(prepared)
    assert prepared.term_rows_postings == full > 0

    prepared.prepare_for_queries()
    assert prepared.term_rows_cache == {} and prepared.term_rows_postings == 0
    monkeypatch.setattr(W, "TERM_CACHE_MAX_POSTINGS", full // 3)
    evicted = 0
    for text in texts + texts[::-1]:
        before = set(prepared.term_rows_cache)
        wand_topk(spark, prepared, [("Q", text)], k=K)
        evicted += len(before - set(prepared.term_rows_cache))
        assert prepared.term_rows_postings == recomputed(prepared), text
    assert evicted > 0
