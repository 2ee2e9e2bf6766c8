"""Top-k BM25 over compressed segments: block-max WAND + vectorized TAAT.

Query plan (batch of queries, one Spark job):

    segments.filter(term IN query_terms OR term IS NULL)
                                             <- parquet pushdown: only
                                                query-term rows + the
                                                per-shard doclen rows
      groupBy(shard_id) -> applyInPandas(scorer)
                                             <- per-shard task: every
                                                query scored against the
                                                shard's local postings,
                                                doc lengths decoded from
                                                the shard's own doclen row
      -> driver merge of the per-shard top-k candidates
                                             <- collect + sort by
                                                (round(score,6) desc,
                                                doc_id asc), cut at k

Document-sharding makes this embarrassingly parallel: no shuffle of
postings at query time. The merge bound is n_shards * k * |Q| candidate
rows; above ``DRIVER_MERGE_MAX_ROWS`` the candidates stay distributed and
a window rank (same tie-break) over one small shuffle replaces the driver
merge. A prepared index whose query terms match at most
``FAST_PATH_MAX_POSTINGS`` postings scores on the driver instead, from an
LRU of collected term rows (``_local_topk``).

Two scorers, both exact (rank-identical to the join+agg path and the
Python oracle — property-tested):

  * ``taat``: vectorized term-at-a-time — decode all matched postings,
    one np.add.at group-sum, exact top-k with rounded-tie margin. Zero
    per-row Python; optimal for few/selective terms or small shards.
  * ``wand``: vectorized Block-Max evaluation (the block-skipping idea
    of Broder et al. WAND + Ding & Suel block-max bounds, restructured
    for SIMD instead of doc-at-a-time cursors): the doc-id space is cut
    into windows at the union of all terms' block boundaries, so each
    window is covered by exactly one block per term; window upper
    bounds are the sums of per-block bounds idf * norm(block_max_tf,
    block_min_dl) — valid because the BM25 tf-norm is monotone in tf
    and anti-monotone in dl. Windows are processed in DESCENDING
    upper-bound order with whole-window numpy scoring (every doc in a
    processed window gets its full exact score, since the window's
    covering blocks contain all of its postings); processing stops as
    soon as the best remaining window bound cannot beat the running
    kth-best exact score minus the rounding margin. Per-window work is
    numpy over whole blocks — no per-document Python. Exactness is
    protected by the 1e-6 margin under the rounded tie-break
    comparator (property-tested vs the oracle and vs TAAT).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertsage_spark.index.compress import (
    B,
    BLOCK_SIZE,
    K1,
    bm25_norm,
    decode_block,
    delta_decode,
    varbyte_decode,
)
from alertsage_spark.index.segments import (
    TOMBSTONE_TERM,
    SegmentIndex,
    decode_doclen_row,
)
from alertsage_spark.tokenizer import code_query_terms, tokenize_py


def _in_sorted(a: np.ndarray, sorted_vals: np.ndarray) -> np.ndarray:
    """Boolean membership of ``a`` in a SORTED int array (searchsorted —
    no hash set materialization)."""
    if not len(sorted_vals):
        return np.zeros(len(a), dtype=bool)
    idx = np.searchsorted(sorted_vals, a)
    idx[idx == len(sorted_vals)] = 0  # out-of-range: compare vs [0], always False
    return sorted_vals[idx] == a

# prune/candidate margin: must stay strictly tighter than the
# round(score, 6) tie-break so a pruned window/candidate can never hold
# a doc that rounds into the top-k boundary
THETA_EPS = 1e-6
# terms with at most this many postings are decoded eagerly so their
# bounds charge only posting-bearing windows (see wand_topk_shard)
EAGER_DECODE_POSTINGS = 4096
# idf at/above which a term counts as "selective" for the auto scorer
# choice (roughly df <= n_docs/100)
IDF_SELECTIVE = 4.6


def _idf(df: int, n_docs: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _check_dl_coverage(dl_docs: np.ndarray, dl_idx: np.ndarray, docs: np.ndarray):
    if dl_idx.max(initial=-1) >= len(dl_docs) or not np.array_equal(
        dl_docs[dl_idx], docs
    ):
        raise ValueError(
            "posting doc_id absent from the shard's doclen rows — a group "
            "built with a different n_shards/layout was appended"
        )


def decode_term_row(row, cache: dict | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Decode a term row's FULL posting list in two varbyte calls (one
    per stream) instead of two per block: the delta stream restarts
    (absolute doc_id) at every block boundary, so the decoded cumsum is
    corrected per block by subtracting the running offset at each block
    start (vectorized reset-cumsum; r6 — the per-block loop cost ~2
    numpy dispatches per 128 postings). ``cache`` (keyed by id(row))
    shares decodes across the queries of one batch — reference batches
    share their hot terms, so each posting list decodes once per task,
    not once per query."""
    key = id(row)
    if cache is not None:
        hit = cache.get(key)
        if hit is not None:
            return hit
    deltas = varbyte_decode(bytes(row["doc_bytes"]))
    tfs = varbyte_decode(bytes(row["tf_bytes"])).astype(np.int64)
    n = len(deltas)
    c = np.cumsum(deltas, dtype=np.uint64)
    starts = np.arange(0, n, BLOCK_SIZE, dtype=np.int64)
    if len(starts):
        # value at a block start is ABSOLUTE: subtract the cumsum carried
        # in from previous blocks, per block
        offs = c[starts] - deltas[starts]
        counts = np.diff(np.append(starts, n))
        docs = (c - np.repeat(offs, counts)).astype(np.int64)
    else:
        docs = c.astype(np.int64)
    out = (docs, tfs)
    if cache is not None:
        cache[key] = out
    return out


def wand_topk_shard(
    term_rows: list[tuple[dict, float]],
    dl_docs: np.ndarray,
    dl_vals: np.ndarray,
    k: int,
    avgdl: float,
    deleted: np.ndarray | None = None,
    cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Vectorized Block-Max evaluation over one shard (exact top-k).

    ``deleted``: sorted doc ids masked per window BEFORE entering the
    running top-k buffer, so the pruning threshold never rests on a
    tombstoned doc's score.

    The doc-id space is partitioned into windows at the union of all
    terms' block-boundary doc ids; each window is covered by exactly one
    block per term, so scoring a window yields FULL exact scores for
    every doc in it. Windows run in descending upper-bound order; the
    loop stops when the best remaining bound cannot beat the running
    kth-best exact score minus the rounding margin. Blocks are decoded
    lazily at most once; skipped windows' blocks are never decoded.
    """
    lasts, bounds, idfs, rows = [], [], [], []
    for row, idf in term_rows:
        ld = np.asarray(row["block_last_docs"], dtype=np.int64)
        if len(ld) == 0:
            continue
        lasts.append(ld)
        bounds.append(
            idf
            * bm25_norm(
                np.asarray(row["block_max_tfs"], dtype=np.int64),
                np.asarray(row["block_min_dls"], dtype=np.int64),
                avgdl,
            )
        )
        idfs.append(idf)
        rows.append(row)
    if not rows:
        return []
    n_terms = len(rows)
    boundary = np.unique(np.concatenate(lasts))  # sorted window END doc ids
    ub = np.zeros(len(boundary))
    cover: list[tuple[np.ndarray, np.ndarray]] = []
    # lazily decoded blocks, keyed (id(row), block) so a batch-shared
    # cache (r6) lets queries that share a term reuse its decodes
    decoded: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = (
        cache if cache is not None else {}
    )
    for t in range(n_terms):
        bi = np.searchsorted(lasts[t], boundary, side="left")
        valid = bi < len(lasts[t])
        bi_c = np.minimum(bi, len(lasts[t]) - 1)
        contrib = np.where(valid, bounds[t][bi_c], 0.0)
        if int(rows[t]["n_postings"]) <= EAGER_DECODE_POSTINGS:
            # A selective term's few blocks span WIDE doc ranges (a
            # single-block term spans everything), which would charge its
            # large idf bound to every window and defeat pruning. Its
            # postings are cheap to decode, so decode them now and charge
            # the bound ONLY to windows that actually contain a posting
            # (the true max contribution elsewhere is zero).
            docs_t = []
            rid = id(rows[t])
            for b in range(len(lasts[t])):
                blk = decoded.get((rid, b))
                if blk is None:
                    blk = decode_block(rows[t], b)
                    decoded[(rid, b)] = blk
                docs_t.append(blk[0])
            widx = np.searchsorted(boundary, np.concatenate(docs_t), side="left")
            haspost = np.zeros(len(boundary), dtype=bool)
            haspost[widx] = True
            contrib = np.where(haspost, contrib, 0.0)
        ub += contrib
        cover.append((bi_c, valid))
    order = np.argsort(-ub, kind="stable")
    out_docs: list[np.ndarray] = []
    out_scores: list[np.ndarray] = []
    topbuf = np.empty(0)  # running top-k exact scores across windows
    for w in order.tolist():
        if len(topbuf) >= k and ub[w] <= topbuf.min() - THETA_EPS:
            break  # no remaining window can reach the top-k margin
        lo = int(boundary[w - 1]) if w > 0 else -1  # window is (lo, hi]
        hi = int(boundary[w])
        docs_parts, score_parts = [], []
        for t in range(n_terms):
            bi_c, valid = cover[t]
            if not valid[w]:
                continue
            key = (id(rows[t]), int(bi_c[w]))
            blk = decoded.get(key)
            if blk is None:
                blk = decode_block(rows[t], key[1])
                decoded[key] = blk
            d, tf = blk
            s = int(np.searchsorted(d, lo, side="right"))
            e = int(np.searchsorted(d, hi, side="right"))
            if s == e:
                continue
            dd = d[s:e]
            tt = tf[s:e].astype(np.float64)
            dl_idx = np.searchsorted(dl_docs, dd)
            _check_dl_coverage(dl_docs, dl_idx, dd)
            dl = dl_vals[dl_idx].astype(np.float64)
            sc = idfs[t] * (tt * (K1 + 1.0)) / (
                tt + K1 * (1.0 - B + B * dl / avgdl)
            )
            docs_parts.append(dd)
            score_parts.append(sc)
        if not docs_parts:
            continue
        if len(docs_parts) == 1:
            u, sums = docs_parts[0], score_parts[0]
        else:
            dd = np.concatenate(docs_parts)
            sc = np.concatenate(score_parts)
            u, inv = np.unique(dd, return_inverse=True)
            sums = np.zeros(len(u))
            np.add.at(sums, inv, sc)
        if deleted is not None and len(deleted):
            keep = ~_in_sorted(u, deleted)
            u, sums = u[keep], sums[keep]
            if not len(u):
                continue
        out_docs.append(u)
        out_scores.append(sums)
        cand = np.concatenate((topbuf, sums))
        if len(cand) > k:
            cand = cand[np.argpartition(cand, len(cand) - k)[len(cand) - k :]]
        topbuf = cand
    if not out_docs:
        return []
    docs = np.concatenate(out_docs)
    sums = np.concatenate(out_scores)
    # identical final selection rule to TAAT: kth-largest exact score,
    # keep the rounding margin so boundary ties break by doc_id
    if len(docs) > k:
        s_k = np.partition(sums, len(sums) - k)[len(sums) - k]
        cand_i = np.flatnonzero(sums >= s_k - THETA_EPS)
    else:
        cand_i = np.arange(len(docs))
    sel = cand_i[np.lexsort((docs[cand_i], -np.round(sums[cand_i], 6)))][:k]
    return [(int(docs[i]), float(sums[i])) for i in sel]


def taat_topk_shard(
    term_rows: list[tuple[dict, float]],
    dl_docs: np.ndarray,
    dl_vals: np.ndarray,
    k: int,
    avgdl: float,
    deleted: np.ndarray | None = None,
    cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Vectorized exact TAAT: decode every matched posting, one group-sum.
    ``deleted``: sorted doc ids dropped before the top-k selection.
    ``cache``: optional batch-shared decode cache (decode_term_row)."""
    all_docs = []
    all_scores = []
    for row, idf in term_rows:
        docs, tfs = decode_term_row(row, cache)
        tfs = tfs.astype(np.float64)
        dl_idx = np.searchsorted(dl_docs, docs)
        _check_dl_coverage(dl_docs, dl_idx, docs)
        dl = dl_vals[dl_idx].astype(np.float64)
        scores = idf * (tfs * (K1 + 1.0)) / (tfs + K1 * (1.0 - B + B * dl / avgdl))
        all_docs.append(docs)
        all_scores.append(scores)
    if not all_docs:
        return []
    docs = np.concatenate(all_docs)
    scores = np.concatenate(all_scores)
    uniq, inv = np.unique(docs, return_inverse=True)
    sums = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(sums, inv, scores)
    if deleted is not None and len(deleted):
        keep = ~_in_sorted(uniq, deleted)
        uniq, sums = uniq[keep], sums[keep]
        if not len(uniq):
            return []
    if len(uniq) > k:
        # kth-largest exact score, then keep every candidate within the
        # rounding margin so rounded ties at the boundary break by doc_id
        s_k = np.partition(sums, len(sums) - k)[len(sums) - k]
        cand = np.flatnonzero(sums >= s_k - THETA_EPS)
    else:
        cand = np.arange(len(uniq))
    order = cand[np.lexsort((uniq[cand], -np.round(sums[cand], 6)))][:k]
    return [(int(uniq[i]), float(sums[i])) for i in order]


def _resolve_algo(algo: str, rows: list[tuple[dict, float]]) -> str:
    """'auto' -> 'wand'/'taat' per (query, shard). WAND pays off when a
    selective (high-idf) term can push the top-k threshold above the
    combined bound of the flat terms, letting whole flat-term blocks be
    skipped; otherwise TAAT's single decode-everything pass wins.
    Measured on local[32], sf0.1 x16 (BENCH/wand_auto.md): zipf needle
    wand 0.96-3.3s vs taat 2.6-7.5s; flat reference queries taat ~1.0s
    vs wand ~1.4s."""
    if algo != "auto":
        return algo
    idfs = [idf for _r, idf in rows]
    sel = [i for i in idfs if i >= IDF_SELECTIVE]
    n_post = sum(int(r["n_postings"]) for r, _ in rows)
    # any selective term + enough postings to be worth skipping -> WAND.
    # Measured: WAND wins even when the flat terms' summed bound exceeds
    # the selective idf (code query parseConfig17: wand 1.22s vs taat
    # 1.82s) because per-block bounds are far tighter than idf*2.2; a
    # flat-only query stays TAAT (reference-18: taat ~1.0s vs wand ~1.4s).
    return "wand" if sel and n_post > 5_000 else "taat"


def _empty_topk(spark: SparkSession) -> DataFrame:
    """0-row result with the standard top-k schema, as a range(0) plan:
    createDataFrame([]) (and an empty pandas batch) both fall back to a
    defaultParallelism-partition parallelize whose empty tasks cost
    ~0.35 s of scheduling on local[32]."""
    return spark.range(0).select(
        F.lit("").alias("query_id"),
        F.col("id").alias("doc_id"),
        F.lit(0.0).alias("score"),
        F.lit(0).cast("int").alias("rank"),
    )


def _local_topk(
    spark: SparkSession,
    index: SegmentIndex,
    query_terms: dict[str, list[str]],
    idf_map: dict[str, float],
    k: int,
    algo: str,
    avgdl: float,
) -> DataFrame:
    """Driver-local fast path for selective queries in serving mode.

    When the matched-postings volume is tiny relative to the corpus, a
    full Spark job (one task per shard through Python workers) is pure
    scheduling overhead: instead, collect ONLY the matched segment rows
    (a pushed term-IN filter over the cached segments), run the same
    shard kernels in the driver against the pre-collected doc-length
    arrays, and materialize the (<= k x queries)-row result. Exactness
    is identical by construction — same kernels, same tie-break."""
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    term_rows, tomb_rows = _cached_term_rows(index, all_terms)
    by_shard_term: dict[int, dict[str, list]] = {}
    for t, rows_t in term_rows.items():
        for r in rows_t:
            by_shard_term.setdefault(int(r["shard_id"]), {}).setdefault(
                t, []
            ).append(r)
    tomb_by_shard: dict[int, list] = {}
    for r in tomb_rows:
        tomb_by_shard.setdefault(int(r["shard_id"]), []).append(r)
    del_by_shard = {
        sid: np.unique(np.concatenate([decode_doclen_row(r)[0] for r in rs]))
        for sid, rs in tomb_by_shard.items()
    }
    out = []
    decode_cache: dict = {}  # shared across this batch's queries (r6)
    for qid, terms in query_terms.items():
        hits: list[tuple[int, float]] = []
        for sid, by_term in by_shard_term.items():
            rows = [
                (run, idf_map[t])
                for t in terms
                if t in by_term
                for run in by_term[t]
            ]
            if not rows:
                continue
            dl_docs, dl_vals = index.dl_map[sid]
            shard_fn = (
                wand_topk_shard
                if _resolve_algo(algo, rows) == "wand"
                else taat_topk_shard
            )
            hits.extend(
                shard_fn(rows, dl_docs, dl_vals, k, avgdl,
                         deleted=del_by_shard.get(sid), cache=decode_cache)
            )
        hits.sort(key=lambda h: (-round(h[1], 6), h[0]))
        for rank, (doc, score) in enumerate(hits[:k], start=1):
            out.append((qid, int(doc), round(score, 6), rank))
    # Arrow path: createDataFrame(pandas) materializes as a single local
    # batch (~25 ms) where createDataFrame(list) parallelizes to
    # defaultParallelism tasks and costs ~0.35 s of pure scheduling per
    # query on local[32] — measured 13x, the dominant term of serving
    # latency before this change. The EMPTY case must not go through
    # pandas either (an empty batch falls back to parallelize and costs
    # the same 0.35 s — measured; it made no-match queries 2.5x slower
    # than matching ones): emit a 0-row plan from range(0) instead.
    if not out:
        return _empty_topk(spark)
    pdf = pd.DataFrame(out, columns=["query_id", "doc_id", "score", "rank"])
    return spark.createDataFrame(
        pdf, "query_id string, doc_id long, score double, rank int"
    )


# matched-postings ceiling for the driver-local fast path (collecting
# more than this many postings to the driver would cost more than the
# distributed job it avoids)
FAST_PATH_MAX_POSTINGS = 2_000_000

# ceiling on n_shards * k * |Q| for the distributed path's driver-side
# final merge (~40 B/row); above it the global window rank runs instead
DRIVER_MERGE_MAX_ROWS = 200_000

# serving LRU budget: total encoded postings held in the driver's
# term-row cache (compressed rows, ~1.5 B/posting -> ~12 MB at the cap).
# Evicting by postings rather than term count keeps the bound meaningful
# under mixed rare/hot terms.
TERM_CACHE_MAX_POSTINGS = 8_000_000


def _n_postings(rows: list) -> int:
    return sum(int(r["n_postings"]) for r in rows)


def _cached_term_rows(
    index: SegmentIndex, all_terms: list[str]
) -> tuple[dict[str, list], list]:
    """Serving-mode LRU over collected segment rows, keyed by term.
    Every fast-path query previously re-collected its matched rows from
    the cached DataFrame — a per-query JVM->driver transfer that was the
    fast path's latency ceiling (r3 verdict). Now only terms absent from
    the cache (misses cached as [] too) pay a collect; tombstone rows
    are collected once per snapshot. Staleness is inherited from the
    serving snapshot: any on-disk mutation raises in wand_topk before
    this cache is consulted."""
    cache = index.term_rows_cache
    if cache is None:
        cache = index.term_rows_cache = {}
        index.term_rows_postings = 0
    missing = [t for t in all_terms if t not in cache]
    need_tomb = index.tomb_rows_cache is None
    if missing or need_tomb:
        cond = F.col("term").isin(missing) if missing else F.lit(False)
        if need_tomb:
            cond = cond | (F.col("term") == TOMBSTONE_TERM)
        fetched: dict[str, list] = {t: [] for t in missing}
        tombs: list = []
        for r in index.segments.filter(cond).collect():
            if r["term"] == TOMBSTONE_TERM:
                tombs.append(r)
            else:
                fetched[r["term"]].append(r)
        if need_tomb:
            index.tomb_rows_cache = tombs
        for t in missing:
            cache[t] = fetched[t]
            index.term_rows_postings += _n_postings(fetched[t])
        # LRU eviction by total postings (dict preserves insertion order;
        # hits below reinsert to mark recency)
        while (index.term_rows_postings > TERM_CACHE_MAX_POSTINGS
               and len(cache) > len(all_terms)):
            victim = next(iter(cache))
            if victim in all_terms:  # keep this query's working set
                cache[victim] = cache.pop(victim)
                continue
            index.term_rows_postings -= _n_postings(cache.pop(victim))
    out: dict[str, list] = {}
    for t in all_terms:
        rows_t = cache.pop(t)  # reinsert = LRU touch
        cache[t] = rows_t
        out[t] = rows_t
    return out, index.tomb_rows_cache or []

# which path served each wand_topk call — bench reads this so a latency
# regression is diagnosable (fast-path miss vs slow fast-path).
# probe_ns accumulates the staleness-guard cost (a per-query group-dir
# listing, assert_serving_fresh) so the bench can show whether the
# freshness check is latency-relevant (r3 verdict task 8).
SERVING_COUNTERS = {"fast_path": 0, "distributed": 0, "probe_ns": 0}


def reset_serving_counters() -> dict:
    prev = dict(SERVING_COUNTERS)
    SERVING_COUNTERS["fast_path"] = 0
    SERVING_COUNTERS["distributed"] = 0
    SERVING_COUNTERS["probe_ns"] = 0
    return prev


def _make_scorer(query_terms: dict[str, list[str]], idf_map: dict[str, float],
                 avgdl: float, k: int, algo: str):
    def scorer(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
            {"query_id": str, "doc_id": "int64", "score": "float64"}
        )
        dl_pdf = pdf[pdf["term"].isna()]
        if dl_pdf.empty:
            return out_empty
        # a shard carries one doclen row per committed group; an
        # un-compacted multi-group index therefore has several — merge
        dl_parts = [decode_doclen_row(r) for _, r in dl_pdf.iterrows()]
        dl_docs = np.concatenate([p[0] for p in dl_parts])
        dl_vals = np.concatenate([p[1] for p in dl_parts])
        order = np.argsort(dl_docs, kind="stable")
        dl_docs, dl_vals = dl_docs[order], dl_vals[order]
        notna = pdf[pdf["term"].notna()]
        tomb_pdf = notna[notna["term"] == TOMBSTONE_TERM]
        deleted = None
        if not tomb_pdf.empty:
            deleted = np.unique(
                np.concatenate([decode_doclen_row(r)[0] for _, r in tomb_pdf.iterrows()])
            )
        seg_pdf = notna[notna["term"] != TOMBSTONE_TERM]
        if seg_pdf.empty:
            return out_empty
        # one row per (term, committed group): an un-compacted index has
        # several runs per term — score them all (disjoint doc appends
        # are exact; re-ingests of the SAME doc require merge_segments)
        by_term: dict[str, list] = {}
        for _, r in seg_pdf.iterrows():
            by_term.setdefault(r["term"], []).append(r)
        out_q, out_d, out_s = [], [], []
        decode_cache: dict = {}  # shared across this batch's queries (r6)
        for qid, terms in query_terms.items():
            rows = [
                (run, idf_map[t])
                for t in terms
                if t in by_term
                for run in by_term[t]
            ]
            if not rows:
                continue
            shard_fn = (
                wand_topk_shard
                if _resolve_algo(algo, rows) == "wand"
                else taat_topk_shard
            )
            hits = shard_fn(rows, dl_docs, dl_vals, k, avgdl, deleted=deleted,
                            cache=decode_cache)
            for d, s in hits:
                out_q.append(qid)
                out_d.append(d)
                out_s.append(s)
        return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})

    return scorer


def wand_topk(
    spark: SparkSession,
    index: SegmentIndex,
    queries: Iterable[tuple[str, str]],
    k: int = 10,
    algo: str = "wand",
) -> DataFrame:
    """Batch top-k over a compressed SegmentIndex.

    queries: iterable of (query_id, query_text). Tokenization uses the
    shared spec (driver-side tokenize_py on the tiny query set — parity
    with the index-side tokenizer is covered by tests).
    """
    # unconditional: load_index pins the parquet group list, so even an
    # unprepared index silently misses groups appended after load —
    # raise instead of serving stale results
    import time as _time

    _t0 = _time.perf_counter_ns()
    index.assert_serving_fresh()
    SERVING_COUNTERS["probe_ns"] += _time.perf_counter_ns() - _t0
    mode = index.stats.get("mode", "text")
    queries = list(queries)
    if mode == "code":
        # exact-identifier short-circuit: expand to trigram terms only
        # for base tokens absent from the vocabulary (tokenizer.
        # code_query_terms). has_term comes from df_map in serving mode
        # (zero-job) or one small termstats probe on the base tokens.
        if index.df_map is not None:
            has_term = index.df_map.__contains__
        else:
            base = sorted(
                {t for _qid, text in queries for t in tokenize_py(text, mode="text")}
            )
            present = {
                r["term"]
                for r in index.termstats.filter(F.col("term").isin(base))
                .select("term")
                .collect()
            }
            has_term = present.__contains__
        query_terms = {
            qid: sorted(set(code_query_terms(text, has_term)))
            for qid, text in queries
        }
    else:
        query_terms = {
            qid: sorted(set(tokenize_py(text, mode=mode))) for qid, text in queries
        }
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    if not all_terms:
        return _empty_topk(spark)
    n_docs = index.stats["n_docs"]
    if index.df_map is not None:
        # serving mode (prepare_for_queries): zero-job idf lookup
        idf_map = {
            t: _idf(index.df_map[t], n_docs)
            for t in all_terms
            if t in index.df_map
        }
    else:
        df_rows = (
            index.termstats.filter(F.col("term").isin(all_terms))
            .select("term", "df")
            .collect()
        )
        idf_map = {r["term"]: _idf(int(r["df"]), n_docs) for r in df_rows}
    avgdl_f = float(index.stats["avgdl"])
    if index.df_map is not None and index.dl_map is not None:
        total_df = sum(index.df_map.get(t, 0) for t in all_terms)
        if total_df <= FAST_PATH_MAX_POSTINGS:
            SERVING_COUNTERS["fast_path"] += 1
            return _local_topk(spark, index, query_terms, idf_map, k, algo, avgdl_f)
    SERVING_COUNTERS["distributed"] += 1
    avgdl = float(index.stats["avgdl"])
    # algo == "auto" resolves per (query, shard) inside the scorer from
    # idf structure + matched-postings volume (see _make_scorer)
    seg = index.segments.filter(
        F.col("term").isin(all_terms)
        | F.col("term").isNull()
        | (F.col("term") == TOMBSTONE_TERM)
    )
    scorer = _make_scorer(query_terms, idf_map, avgdl, k, algo)
    candidates = seg.groupBy("shard_id").applyInPandas(
        scorer, schema="query_id string, doc_id long, score double"
    )
    # Final k-way merge: the per-shard scorers emit at most
    # n_shards x k rows per query, so when that bound is driver-small
    # the global rank is a driver merge (one job, no extra
    # exchange+window stage — r6; same tie-break as the window and as
    # _local_topk). At web scale (millions of shards) the bound blows
    # the budget and the distributed window runs as before.
    n_shards = int(index.stats.get("n_shards", 0))
    if 0 < n_shards * k * len(query_terms) <= DRIVER_MERGE_MAX_ROWS:
        by_q: dict[str, list] = {}
        for r in candidates.collect():
            by_q.setdefault(r["query_id"], []).append(
                (int(r["doc_id"]), float(r["score"]))
            )
        out = []
        for qid in by_q:
            hits = sorted(by_q[qid], key=lambda h: (-round(h[1], 6), h[0]))
            for rank, (doc, score) in enumerate(hits[:k], start=1):
                out.append((qid, doc, round(score, 6), rank))
        if not out:
            return _empty_topk(spark)
        pdf = pd.DataFrame(out, columns=["query_id", "doc_id", "score", "rank"])
        return spark.createDataFrame(
            pdf, "query_id string, doc_id long, score double, rank int"
        )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("doc_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.round("score", 6).alias("score"), "rank")
    )
