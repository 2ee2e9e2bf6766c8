"""Doc-sharded compressed index segments + manifest checkpoint/resume.

Physical design (for 10^12-file corpora; tested at fixture scale):

  * **document-sharded**: shard_id = pmod(xxhash64(doc_id), n_shards).
    Each shard holds the full term->postings map for ITS docs. This
    defuses hot-term build skew structurally — a stop-word's postings
    spread across all shards instead of landing on one term-partition —
    and lets the query side run block-max WAND per shard with only a
    final top-k merge (queries broadcast; no doc-side shuffle at query
    time).
  * **single-pass build**: ONE tokenize of the corpus. Block metadata
    stores (block_max_tf, block_min_dl) instead of avgdl-baked norms, so
    no global-stats barrier is needed before encoding — the query-time
    bound idf * norm(max_tf, min_dl) is valid because the BM25 tf-norm
    is increasing in tf and decreasing in dl (property-tested).
  * **self-contained segments**: one parquet row per (shard_id, term):
    delta+varbyte doc_ids, varbyte tfs, per-block metadata — see
    compress.py. Each shard additionally stores ONE doclen row
    (term=NULL) carrying its doc_id->dl arrays in the same varbyte
    format; the scorer reads postings and doc lengths from the same
    partition-local rows (no separate table, no cogroup). Files are
    sorted by term so parquet row-group min/max stats prune term lookups.
  * **global stats after commit**: n_docs/avgdl and the term->df table
    derive from the committed segment rows (salted two-stage agg on
    term — at most n_shards rows per term enter it, so hot terms cannot
    skew a reducer).
  * **manifest checkpoint/resume** (the Spark-native analog of the
    reference's chunked generator checkpoint,
    /root/reference/generator/generate_cyber_incidents.py:2779-3047:
    JSON {last_completed_event, chunks_written} + append resume):
    shards are processed in groups; each group commits its parquet
    directory THEN appends a manifest row with lineage + build metrics
    (n_docs, n_postings, bytes, wall_ms, docs/sec). Resume anti-joins
    pending groups against the manifest and reprocesses only those; a
    half-written uncommitted group directory is overwritten
    idempotently, so the final index is byte-identical to an
    uninterrupted build (asserted in tests/test_segments.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertsage_spark.index.compress import (
    encode_posting_lists_batch,
    varbyte_encode,
    delta_encode,
)
from alertsage_spark.tokenizer import tokenize_arrow_base, vocab_trigram_mapping

SEGMENT_SCHEMA = (
    "shard_id int, term string, df_local int, cf_local long, n_postings long, "
    "doc_bytes binary, tf_bytes binary, "
    "block_last_docs array<long>, block_max_tfs array<long>, "
    "block_min_dls array<long>, "
    "block_doc_offsets array<int>, block_tf_offsets array<int>"
)
_SEG_COLS = [
    "shard_id", "term", "df_local", "cf_local", "n_postings",
    "doc_bytes", "tf_bytes", "block_last_docs", "block_max_tfs",
    "block_min_dls", "block_doc_offsets", "block_tf_offsets",
]

# Reserved term marking a tombstone row (deleted doc ids ride in
# doc_bytes using the doclen-row encoding). Can never collide with real
# tokens: the tokenizer emits only [a-z][a-z0-9]+ and '#'-prefixed
# trigrams. LSM delete semantics: a tombstone excludes its doc ids from
# ALL query results immediately (kernels mask candidates shard-locally);
# global stats (n_docs/avgdl/df) stay stale until merge_segments, which
# physically drops deleted postings, doclens, and the tombstones, then
# recomputes stats — the standard Lucene-style lifecycle. Re-ingesting a
# deleted doc_id requires a merge first (deletion is not sequenced
# against later appends).
TOMBSTONE_TERM = "!deleted!"

# Streaming-ingest exactly-once bookkeeping (streaming/ingest.py writes
# these; merge carries them): each stream-committed group dir holds a
# STREAM_MARKER with its micro-batch id, and the index root may hold a
# STREAM_SIDECAR recording batch ids whose groups were since compacted
# away — merge_segments drops the marker-carrying groups, so without the
# sidecar a batch re-delivered across a stop->compact->restart window
# would re-append and double-count docs.
STREAM_MARKER = "_stream_batch.json"
STREAM_SIDECAR = "_stream_batches.json"


def stream_committed_batch_ids(index_dir: str) -> set[int]:
    """Micro-batch ids durably ingested: per-group markers UNION the
    root sidecar (batches whose groups were compacted away)."""
    import glob as _glob

    out: set[int] = set()
    side = os.path.join(index_dir, STREAM_SIDECAR)
    try:
        # open-or-miss, not exists-then-open: persist_stream_batch_ids
        # may legitimately REMOVE the sidecar concurrently (empty-set
        # write during a merge into this dir) — a TOCTOU exists() check
        # would crash the reader in that window
        with open(side) as f:
            out.update(int(b) for b in json.load(f)["batch_ids"])
    except FileNotFoundError:
        pass
    for p in _glob.glob(os.path.join(index_dir, "segments", "group=*", STREAM_MARKER)):
        with open(p) as f:
            out.add(int(json.load(f)["batch_id"]))
    return out


def persist_stream_batch_ids(index_dir: str, ids: set[int]) -> None:
    """Atomically (temp+rename, same filesystem) write the root sidecar.
    An EMPTY id set removes any pre-existing sidecar: merge destinations
    are rewritten with overwrite semantics, so a stale sidecar from a
    previous index at the same path must not survive and falsely claim
    stream batches as committed (that would silently DROP re-used batch
    ids on a later streaming sink — the inverse of the double-count bug
    the sidecar prevents)."""
    side = os.path.join(index_dir, STREAM_SIDECAR)
    if not ids:
        if os.path.exists(side):
            os.remove(side)
        return
    tmp = side + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch_ids": sorted(int(b) for b in ids)}, f)
    os.replace(tmp, side)

# sentinel: "tombstones not computed yet" (None means "none exist")
_UNSET = object()

MANIFEST_SCHEMA = (
    "build_id string, group_id int, n_shards int, n_groups int, "
    "n_docs long, n_terms long, n_postings long, "
    "doc_bytes long, tf_bytes long, wall_ms double, "
    "docs_per_sec double, postings_per_sec double, committed_at string"
)


def shard_col(doc_id_col, n_shards: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_shards)).cast("int")


def suggest_n_shards(
    n_docs: int,
    avg_doc_tokens: float = 200.0,
    target_postings_per_shard: int = 20_000_000,
) -> int:
    """Sizing rule for ``build_segments(n_shards=...)``.

    A build/merge task materializes ONE shard (its postings decode to
    ~16 B each plus the token strings), so per-task memory is
    total_postings / n_shards * ~50 B. The rule keeps a shard at
    ``target_postings_per_shard`` (20M -> ~1 GB peak per task):

        n_shards = ceil(n_docs * avg_doc_tokens / target)

    Examples: 80k docs x 60 tok -> 1 shard (floor to parallelism needs);
    10^9 docs x 200 tok -> 10,000 shards; 10^12 docs -> 10M shards.
    n_shards only changes layout, never results (append_group guards
    against mixing layouts); pick the next power of two above this for
    stable repartitioning if preferred."""
    import math

    return max(1, math.ceil(n_docs * avg_doc_tokens / target_postings_per_shard))


@dataclass
class IndexPaths:
    root: str

    @property
    def stats_json(self) -> str:
        return os.path.join(self.root, "stats.json")

    @property
    def config_json(self) -> str:
        return os.path.join(self.root, "build_config.json")

    @property
    def termstats(self) -> str:
        return os.path.join(self.root, "termstats")

    def group_dir(self, g: int) -> str:
        return os.path.join(self.root, "segments", f"group={g}")

    @property
    def segments_glob(self) -> str:
        return os.path.join(self.root, "segments", "group=*")

    def group_dirs(self) -> list[str]:
        """Concrete committed group directories. Readers pass these to
        spark.read.parquet instead of segments_glob: a glob path makes
        Spark's FileStreamSink probe log a full FileNotFoundException
        stack trace (benign but noisy) on every read."""
        import glob as _glob

        return sorted(_glob.glob(self.segments_glob))

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")


def salted_termstats_from_segments(segments: DataFrame, n_salts: int = 8) -> DataFrame:
    """Global term -> (df, cf) from the per-shard segment rows, via the
    EXPLICIT two-stage salted aggregation on term (north rule §4.2-3):
    partial agg on (term, salt), final combine on term.

    Because the index is document-sharded, the input has AT MOST n_shards
    rows per term — hot-term skew is defused structurally before this agg
    even runs (a stop-word contributes n_shards partial rows, not one row
    per posting). The salt keeps the reduce side spread even when vocab
    is tiny relative to shards."""
    return (
        segments.filter(
            F.col("term").isNotNull() & (F.col("term") != TOMBSTONE_TERM)
        )
        .groupBy("term", F.pmod(F.col("shard_id"), F.lit(n_salts)).alias("salt"))
        .agg(F.sum("df_local").alias("df_p"), F.sum("cf_local").alias("cf_p"))
        .groupBy("term")
        .agg(F.sum("df_p").alias("df"), F.sum("cf_p").alias("cf"))
    )


def _doclen_row(shard_id: int, doc_ids: np.ndarray, dls: np.ndarray) -> dict:
    """The shard's doclen row: term=NULL, doc ids delta+varbyte in
    doc_bytes, lengths varbyte in tf_bytes (aligned to sorted doc order)."""
    order = np.argsort(doc_ids, kind="stable")
    d = doc_ids[order].astype(np.uint64)
    l = dls[order].astype(np.uint64)
    db = varbyte_encode(delta_encode(d))
    tb = varbyte_encode(l)
    return {
        "shard_id": shard_id,
        "term": None,
        "df_local": int(len(d)),  # n docs in shard
        "cf_local": int(dls.sum()),  # sum of doc lengths
        "n_postings": int(len(d)),
        "doc_bytes": db,
        "tf_bytes": tb,
        "block_last_docs": [int(doc_ids[order][-1])] if len(d) else [],
        "block_max_tfs": [],
        "block_min_dls": [],
        "block_doc_offsets": [0, len(db)],
        "block_tf_offsets": [0, len(tb)],
    }


def _shard_postings(doc_ids: np.ndarray, texts, mode: str):
    """Numpy core shared by the pandas and Arrow shard builders: one
    shard's texts -> per-doc lengths + term-sorted aggregated postings.

    Tokenizes INSIDE the Python worker (Arrow/RE2 tokenize_arrow_base).
    Aggregation uses factorize + integer composite keys instead of an
    object-dtype pandas groupby: one C-speed hash pass over the token
    strings, then pure int64 numpy — far lighter on memory bandwidth,
    which is what actually limits per-core throughput at high
    parallelism.

    Returns (lens int64[n_docs], parts) where parts is None when the
    shard has no postings, else a dict with p_docs/p_tf/p_dls (term-
    sorted postings), starts/term_starts (per-term ranges), term_sorted
    and vocab."""
    n_docs = len(doc_ids)
    codes, doc_idx, vocab = tokenize_arrow_base(texts)
    lens = np.bincount(doc_idx, minlength=n_docs).astype(np.int64)
    comp = codes * n_docs + doc_idx
    uk, tf = np.unique(comp, return_counts=True)  # sorted by (term, docidx)
    term_code = uk // n_docs
    docidx = (uk % n_docs).astype(np.int64)
    tf = tf.astype(np.int64)
    if mode == "code" and len(vocab):
        # vocab-level trigram expansion over the aggregated postings:
        # tf('#xyz', doc) = sum over terms t of tf(t, doc) * mult(xyz in t)
        tri_vocab, tri_codes, tri_mults, tri_off = vocab_trigram_mapping(vocab)
        n_tris = tri_off[1:] - tri_off[:-1]
        rep = n_tris[term_code]
        rows = np.repeat(np.arange(len(uk), dtype=np.int64), rep)
        # slot index into tri_codes for each expanded row
        slot = (
            np.arange(int(rep.sum()), dtype=np.int64)
            - np.repeat(np.cumsum(rep) - rep, rep)
            + np.repeat(tri_off[term_code], rep)
        )
        tri_term = tri_codes[slot] + len(vocab)
        tri_doc = docidx[rows]
        tri_tf = tf[rows] * tri_mults[slot]
        # doc lengths include trigram occurrences (oracle parity)
        lens = lens + np.bincount(
            tri_doc, weights=tri_tf.astype(np.float64), minlength=n_docs
        ).astype(np.int64)
        # aggregate trigram collisions across different source terms
        comp2 = tri_term * n_docs + tri_doc
        order2 = np.argsort(comp2, kind="stable")
        comp2 = comp2[order2]
        tri_tf = tri_tf[order2]
        uk2, idx2 = np.unique(comp2, return_index=True)
        tf2 = np.add.reduceat(tri_tf, idx2) if len(uk2) else tri_tf[:0]
        term_code = np.concatenate((term_code, uk2 // n_docs))
        docidx = np.concatenate((docidx, (uk2 % n_docs).astype(np.int64)))
        tf = np.concatenate((tf, tf2))
        vocab = np.concatenate((vocab, tri_vocab))
        order3 = np.lexsort((docidx, term_code))
        term_code, docidx, tf = term_code[order3], docidx[order3], tf[order3]
    if len(uk) == 0:
        return lens, None
    p_docs = doc_ids[docidx]
    p_dls = lens[docidx]
    # one global (term, doc_id) sort, then a single batch encode of
    # every posting list (two vectorized varbyte passes for the whole
    # shard — per-term encode calls were 77% of code-mode build time)
    order = np.lexsort((p_docs, term_code))
    term_sorted = term_code[order]
    p_docs, p_tf, p_dls = p_docs[order], tf[order], p_dls[order]
    bounds = np.flatnonzero(np.diff(term_sorted)) + 1
    starts = np.concatenate(([0], bounds))
    term_starts = np.concatenate((starts, [len(term_sorted)]))
    return lens, {
        "p_docs": p_docs,
        "p_tf": p_tf,
        "p_dls": p_dls,
        "starts": starts,
        "term_starts": term_starts,
        "term_sorted": term_sorted,
        "vocab": vocab,
    }


def _segment_builder(mode: str = "text"):
    """applyInPandas group fn: one shard's (doc_id, text) -> segment rows
    + one doclen row. Row-oriented sibling of _segment_builder_arrow
    (kept for the merge path's cogroup tooling and tests)."""

    empty = pd.DataFrame(columns=_SEG_COLS)

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(key[0])
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        lens, parts = _shard_postings(doc_ids, pdf["text"], mode)
        out = [_doclen_row(shard_id, doc_ids, lens)]
        if parts is None:
            return pd.DataFrame(out, columns=_SEG_COLS) if len(doc_ids) else empty
        encs = encode_posting_lists_batch(
            parts["p_docs"], parts["p_tf"], parts["p_dls"], parts["term_starts"]
        )
        cf = np.add.reduceat(parts["p_tf"], parts["starts"])
        vocab, term_sorted = parts["vocab"], parts["term_sorted"]
        for i, enc in enumerate(encs):
            s = int(parts["starts"][i])
            out.append(
                {
                    "shard_id": shard_id,
                    "term": vocab[term_sorted[s]],
                    "df_local": enc["n_postings"],
                    "cf_local": int(cf[i]),
                    **enc,
                }
            )
        return pd.DataFrame(out, columns=_SEG_COLS)

    return fn


def _arrow_segment_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("shard_id", pa.int32()),
            ("term", pa.string()),
            ("df_local", pa.int32()),
            ("cf_local", pa.int64()),
            ("n_postings", pa.int64()),
            ("doc_bytes", pa.binary()),
            ("tf_bytes", pa.binary()),
            ("block_last_docs", pa.list_(pa.int64())),
            ("block_max_tfs", pa.list_(pa.int64())),
            ("block_min_dls", pa.list_(pa.int64())),
            ("block_doc_offsets", pa.list_(pa.int32())),
            ("block_tf_offsets", pa.list_(pa.int32())),
        ]
    )


def _segment_builder_arrow(mode: str = "text"):
    """applyInArrow group fn — the build hot path (r6). Emits the shard's
    segment rows as a pyarrow Table assembled ZERO-COPY from the columnar
    encoder output: the binary columns are offset views over the shard's
    two encoded byte buffers and the block-metadata list columns are
    ListArrays over the vectorized per-block arrays. This removes the
    per-term Python dict/list materialization (5 .tolist() calls and one
    dict per term) and the pandas -> Arrow conversion the pandas builder
    pays; encoded bytes and values are identical (same encoder)."""
    import pyarrow as pa

    from alertsage_spark.index.compress import encode_posting_lists_columnar

    schema = _arrow_segment_schema()

    def fn(key: tuple, tbl: pa.Table) -> pa.Table:
        k = key[0]
        shard_id = int(k.as_py() if hasattr(k, "as_py") else k)
        doc_ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        lens, parts = _shard_postings(doc_ids, tbl.column("text"), mode)
        dl = _doclen_row(shard_id, doc_ids, lens)
        dl_tbl = pa.table({c: [dl[c]] for c in _SEG_COLS}, schema=schema)
        if parts is None:
            return dl_tbl if len(doc_ids) else schema.empty_table()
        c = encode_posting_lists_columnar(
            parts["p_docs"], parts["p_tf"], parts["p_dls"], parts["term_starts"]
        )
        ts = c["term_starts"]
        n_terms = len(ts) - 1
        doc_cum, tf_cum = c["doc_cum"], c["tf_cum"]
        if max(int(doc_cum[-1]), int(tf_cum[-1])) > np.iinfo(np.int32).max:
            raise ValueError(
                "shard encoded size exceeds Arrow binary offset range; "
                "rebuild with a larger n_shards"
            )
        bstart, term_blk = c["bstart"], c["term_blk"]
        starts = parts["starts"]
        cf = np.add.reduceat(parts["p_tf"], starts)
        npost = np.diff(ts)

        def bin_col(all_bytes, cum):
            offs = np.ascontiguousarray(cum[ts], dtype=np.int32)
            return pa.Array.from_buffers(
                pa.binary(), n_terms,
                [None, pa.py_buffer(offs), pa.py_buffer(all_bytes)],
            )

        blk_offs = pa.array(term_blk.astype(np.int32), type=pa.int32())

        def blk_col(values):
            return pa.ListArray.from_arrays(
                blk_offs, pa.array(values.astype(np.int64), type=pa.int64())
            )

        # per-term byte-offset lists: each term's list is its blocks'
        # start offsets plus one trailing end offset — built vectorized
        nblk = np.diff(term_blk)
        list_off = term_blk + np.arange(n_terms + 1, dtype=np.int64)
        total = int(list_off[-1])
        end_mask = np.zeros(total, dtype=bool)
        end_mask[list_off[1:] - 1] = True
        off_arr = pa.array(list_off.astype(np.int32), type=pa.int32())

        def off_col(cum):
            vals = np.empty(total, dtype=np.int64)
            vals[~end_mask] = cum[bstart] - np.repeat(cum[ts[:-1]], nblk)
            vals[end_mask] = cum[ts[1:]] - cum[ts[:-1]]
            return pa.ListArray.from_arrays(
                off_arr, pa.array(vals.astype(np.int32), type=pa.int32())
            )

        terms_tbl = pa.table(
            {
                "shard_id": pa.array(
                    np.full(n_terms, shard_id, dtype=np.int32), type=pa.int32()
                ),
                "term": pa.array(
                    parts["vocab"][parts["term_sorted"][starts]],
                    type=pa.string(),
                ),
                "df_local": pa.array(npost.astype(np.int32), type=pa.int32()),
                "cf_local": pa.array(cf.astype(np.int64), type=pa.int64()),
                "n_postings": pa.array(npost.astype(np.int64), type=pa.int64()),
                "doc_bytes": bin_col(c["doc_all"], doc_cum),
                "tf_bytes": bin_col(c["tf_all"], tf_cum),
                "block_last_docs": blk_col(c["blk_last"]),
                "block_max_tfs": blk_col(c["blk_max_tf"]),
                "block_min_dls": blk_col(c["blk_min_dl"]),
                "block_doc_offsets": off_col(doc_cum),
                "block_tf_offsets": off_col(tf_cum),
            },
            schema=schema,
        )
        return pa.concat_tables([dl_tbl, terms_tbl])

    return fn


def decode_doclen_row(row) -> tuple[np.ndarray, np.ndarray]:
    """(sorted doc_ids int64, dls int64) from a term=NULL doclen row."""
    from alertsage_spark.index.compress import varbyte_decode, delta_decode

    docs = delta_decode(varbyte_decode(bytes(row["doc_bytes"]))).astype(np.int64)
    dls = varbyte_decode(bytes(row["tf_bytes"])).astype(np.int64)
    return docs, dls


def _group_metric_exprs():
    """Aggregates for one group's manifest row — shared by the
    read-back path and the during-write Observation path so the two can
    never drift."""
    return [
        F.count(F.when(F.col("term").isNotNull(), 1)).alias("n_terms"),
        F.sum(F.when(F.col("term").isNotNull(), F.col("n_postings"))).alias("n_postings"),
        F.sum(F.when(F.col("term").isNull(), F.col("df_local"))).alias("n_docs"),
        F.sum(F.length("doc_bytes")).alias("doc_bytes"),
        F.sum(F.length("tf_bytes")).alias("tf_bytes"),
    ]


def _commit_group(
    spark: SparkSession,
    paths: IndexPaths,
    g: int,
    build_id: str,
    n_shards: int,
    n_groups: int,
    wall_ms: float,
    metrics: list,
    observed: dict | None = None,
) -> None:
    """Append the manifest row (lineage + build metrics). The manifest
    append IS the commit point. ``observed``: metric dict captured by a
    DataFrame Observation DURING the write job (build_segments passes
    it) — the default read-back aggregation re-reads the whole group's
    parquet, a full extra pass per group (r6, guide §1.4: measure in
    the job you already run)."""
    if observed is not None:
        m = observed
    else:
        written = spark.read.parquet(paths.group_dir(g))
        m = written.agg(*_group_metric_exprs()).collect()[0]
    n_docs_g = int(m["n_docs"] or 0)
    row = {
        "build_id": build_id,
        "group_id": g,
        "n_shards": n_shards,
        "n_groups": n_groups,
        "n_docs": n_docs_g,
        "n_terms": int(m["n_terms"] or 0),
        "n_postings": int(m["n_postings"] or 0),
        "doc_bytes": int(m["doc_bytes"] or 0),
        "tf_bytes": int(m["tf_bytes"] or 0),
        "wall_ms": wall_ms,
        "docs_per_sec": n_docs_g / (wall_ms / 1000.0) if wall_ms else 0.0,
        "postings_per_sec": int(m["n_postings"] or 0) / (wall_ms / 1000.0) if wall_ms else 0.0,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    spark.createDataFrame([row], MANIFEST_SCHEMA).write.mode("append").parquet(
        paths.manifest
    )
    metrics.append(row)


def committed_groups(spark: SparkSession, paths: IndexPaths) -> set[int]:
    # probe for part-files before spark.read: reading an empty/partial
    # manifest dir raises AnalysisException, and catching it after the
    # fact spews a Java stack trace into the caller's logs
    import glob as _glob

    if not _glob.glob(os.path.join(paths.manifest, "*.parquet")):
        return set()
    rows = spark.read.parquet(paths.manifest).select("group_id").distinct().collect()
    return {r["group_id"] for r in rows}


def verify_corpus_fidelity(
    docs: DataFrame,
    reference_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_col: str = "content_sha256",
) -> None:
    """North-rule per-row invariant: sha2(content, 256) of every indexed
    row must equal the reference's recorded hash. ONE full-outer-join
    job counts both directions at once (r6: the former anti-join pair
    hashed the corpus twice per build); any mismatching or missing row
    raises before the build proceeds."""
    actual = docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("h"),
        F.lit(1).alias("_a"),
    )
    ref = reference_hashes.select(
        F.col(id_col).alias("doc_id"),
        F.col(hash_col).alias("h"),
        F.lit(1).alias("_r"),
    )
    row = (
        actual.join(ref, ["doc_id", "h"], "full_outer")
        .agg(
            F.count(F.when(F.col("_r").isNull(), 1)).alias("bad"),
            F.count(F.when(F.col("_a").isNull(), 1)).alias("missing"),
        )
        .collect()[0]
    )
    bad, missing = int(row["bad"]), int(row["missing"])
    if bad or missing:
        raise ValueError(
            f"corpus fidelity check failed: {bad} rows hash-mismatched, "
            f"{missing} reference rows missing"
        )


def build_segments(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_shards: int = 32,
    n_groups: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "text",
    resume: bool = True,
    build_id: str = "build-0",
    fail_after_group: int | None = None,
    fidelity_hashes: DataFrame | None = None,
) -> dict:
    """Full checkpointed single-pass build. Returns stats + metrics list.

    ``fidelity_hashes`` (doc_id, content_sha256) enables the north-rule
    per-row corpus fidelity gate before indexing.
    ``fail_after_group`` injects a crash for the resume test (kill after
    committing that many groups).
    """
    paths = IndexPaths(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    if fidelity_hashes is not None:
        verify_corpus_fidelity(docs, fidelity_hashes, id_col, text_col)
    config = {"n_shards": n_shards, "n_groups": n_groups, "mode": mode}
    if resume and os.path.exists(paths.config_json):
        with open(paths.config_json) as f:
            prev = json.load(f)
        if prev != config:
            raise ValueError("resume with different build config; wipe index_dir first")
    else:
        with open(paths.config_json, "w") as f:
            json.dump(config, f)

    done = committed_groups(spark, paths) if resume else set()
    sharded = docs.select(
        F.col(id_col).alias("doc_id"),
        shard_col(F.col(id_col), n_shards).alias("shard_id"),
        F.col(text_col).alias("text"),
    )
    metrics = []
    n_committed = 0
    # one shard per reduce task: AQE's coalescer otherwise packs the 64
    # shards into ~#cores UNEVEN tasks and the stage runs as long as its
    # fattest task (measured 1.8x the average — the single biggest scaling
    # loss in the build). 64 equal single-shard tasks wave-schedule evenly
    # at any core count.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shards))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for g in range(n_groups):
            if g in done:
                continue
            t0 = time.monotonic()
            part = sharded.filter(F.pmod(F.col("shard_id"), F.lit(n_groups)) == g)
            seg = part.groupBy("shard_id").applyInArrow(
                _segment_builder_arrow(mode), schema=SEGMENT_SCHEMA
            )
            # manifest metrics ride the write job itself (Observation):
            # the former post-commit read-back re-read the whole group
            from pyspark.sql import Observation

            obs = Observation(f"commit_group_{g}")
            seg = seg.observe(obs, *_group_metric_exprs())
            # applyInPandas output is already hash-partitioned by shard_id;
            # no extra repartition — just sort by term within files so
            # parquet row-group min/max stats prune query-term lookups
            seg.sortWithinPartitions("term").write.mode("overwrite").parquet(
                paths.group_dir(g)
            )
            wall_ms = (time.monotonic() - t0) * 1000.0
            _commit_group(
                spark, paths, g, build_id, n_shards, n_groups, wall_ms, metrics,
                observed=obs.get,
            )
            n_committed += 1
            if fail_after_group is not None and n_committed >= fail_after_group:
                raise RuntimeError(f"injected failure after group {g}")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce)

    # finalize: global stats + termstats from the committed segments
    # (idempotent overwrite; re-runs after a crash before finalize)
    all_done = done | {m["group_id"] for m in metrics}
    stats: dict = {}
    if len(all_done) >= n_groups:
        from pyspark.sql import Observation

        segs = spark.read.option(
            "basePath", os.path.join(paths.root, "segments")
        ).parquet(*paths.group_dirs())
        # doclen-row totals ride the termstats write job (Observation on
        # the pre-filter scan) instead of a second pass over the segments
        dlobs = Observation("finalize_doclen")
        segs_o = segs.observe(
            dlobs,
            F.sum(F.when(F.col("term").isNull(), F.col("df_local"))).alias("n"),
            F.sum(F.when(F.col("term").isNull(), F.col("cf_local"))).alias("s"),
        )
        salted_termstats_from_segments(segs_o).write.mode("overwrite").parquet(
            paths.termstats
        )
        man = spark.read.parquet(paths.manifest).agg(
            F.sum("n_docs").alias("n"),
        ).collect()[0]
        dl_row = dlobs.get
        n = int(dl_row["n"] or 0)
        stats = {
            "n_docs": n,
            "sum_dl": int(dl_row["s"] or 0),
            "avgdl": (int(dl_row["s"] or 0) / n) if n else 0.0,
            "n_shards": n_shards,
            "n_groups": n_groups,
            "mode": mode,
        }
        assert int(man["n"] or 0) == n, "manifest/segment doc-count mismatch"
        tmp = paths.stats_json + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, paths.stats_json)
    return {"stats": stats, "metrics": metrics}


def refresh_stats(spark: SparkSession, index_dir: str) -> dict:
    """Recompute termstats + stats.json from ALL committed groups — the
    documented post-append step (append_group / stream_ingest add
    groups without touching global stats). Idempotent overwrite;
    n_docs/avgdl come from the doclen rows (tombstoned docs still count
    until merge_segments, by the LSM staleness contract)."""
    paths = IndexPaths(index_dir)
    with open(paths.config_json) as f:
        cfg = json.load(f)
    segs = spark.read.option(
        "basePath", os.path.join(paths.root, "segments")
    ).parquet(*paths.group_dirs())
    salted_termstats_from_segments(segs).write.mode("overwrite").parquet(
        paths.termstats
    )
    dl_row = segs.filter(F.col("term").isNull()).agg(
        F.sum("df_local").alias("n"), F.sum("cf_local").alias("s")
    ).collect()[0]
    n = int(dl_row["n"] or 0)
    sum_dl = int(dl_row["s"] or 0)
    stats = {
        "n_docs": n,
        "sum_dl": sum_dl,  # exact int so incremental refresh stays exact
        "avgdl": (sum_dl / n) if n else 0.0,
        "n_shards": int(cfg["n_shards"]),
        "n_groups": len(paths.group_dirs()),
        "mode": cfg.get("mode", "text"),
    }
    tmp = paths.stats_json + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, paths.stats_json)
    return stats


def refresh_stats_incremental(
    spark: SparkSession, index_dir: str, batch_index_dir: str
) -> dict:
    """O(vocab + batch) stats refresh after appending ONE batch's group:
    termstats = (old termstats UNION batch termstats) summed per term,
    n_docs/sum_dl added as exact ints — numerically IDENTICAL to the
    full refresh_stats recompute (all inputs are integer sums; avgdl is
    the same single division), without rescanning every segment group.
    This is what keeps streaming ingestion sub-linear: the full
    recompute is O(total corpus) per micro-batch, which inverts the
    LSM cost model at scale. Falls back to refresh_stats if the
    existing index predates the sum_dl field."""
    paths, bpaths = IndexPaths(index_dir), IndexPaths(batch_index_dir)
    with open(paths.stats_json) as f:
        old = json.load(f)
    if "sum_dl" not in old:
        return refresh_stats(spark, index_dir)
    with open(bpaths.stats_json) as f:
        batch = json.load(f)
    merged_ts = (
        spark.read.parquet(paths.termstats)
        .unionByName(spark.read.parquet(bpaths.termstats))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    # swap via rename: new dir written first, then a two-step swap; a
    # crash between the renames is recovered by refresh_stats (full)
    new_dir = paths.termstats + ".new"
    bak_dir = paths.termstats + ".bak"
    import shutil as _shutil

    for d in (new_dir, bak_dir):
        if os.path.exists(d):
            _shutil.rmtree(d)
    merged_ts.write.parquet(new_dir)
    os.rename(paths.termstats, bak_dir)
    os.rename(new_dir, paths.termstats)
    _shutil.rmtree(bak_dir)
    n = int(old["n_docs"]) + int(batch["n_docs"])
    sum_dl = int(old["sum_dl"]) + int(batch.get("sum_dl", round(batch["avgdl"] * batch["n_docs"])))
    stats = dict(old)
    stats.update(
        {
            "n_docs": n,
            "sum_dl": sum_dl,
            "avgdl": (sum_dl / n) if n else 0.0,
            "n_groups": len(paths.group_dirs()),
        }
    )
    tmp = paths.stats_json + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, paths.stats_json)
    return stats


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """LSM delete: append ONE tombstone group marking ``doc_ids`` as
    deleted (see TOMBSTONE_TERM for the semantics/lifecycle contract).

    ``doc_ids``: a DataFrame with a ``doc_id`` column, or a Python
    iterable of ids. Ids are routed to their shard with the build's
    shard_col rule and encoded per shard exactly like a doclen row
    (sorted delta+varbyte ids, zero lengths), so every decoder already
    understands the row. The group lands via the same staging+rename
    append_group uses (crash-safe); returns the new group id, or -1 for
    an empty ``doc_ids`` (no-op: no group is committed, serving
    snapshots stay valid). Scales: one narrow shuffle on shard_id, one
    tombstone row per touched shard, no driver-side id list."""
    import glob as _glob

    paths = IndexPaths(index_dir)
    with open(paths.config_json) as f:
        cfg = json.load(f)
    n_shards = int(cfg["n_shards"])
    if not isinstance(doc_ids, DataFrame):
        doc_ids = spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id long"
        )
    ids = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    if not ids.take(1):
        # empty delete is a no-op: committing an empty tombstone group
        # would bump the group count and invalidate every serving
        # snapshot (assert_serving_fresh) for nothing
        return -1

    def build_tomb(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from alertsage_spark.index.compress import delta_encode, varbyte_encode

        shard_id = int(key[0])
        d = np.sort(pdf["doc_id"].to_numpy(dtype=np.int64))
        row = {
            "shard_id": shard_id,
            "term": TOMBSTONE_TERM,
            "df_local": int(len(d)),
            "cf_local": 0,
            "n_postings": int(len(d)),
            "doc_bytes": varbyte_encode(delta_encode(d.astype(np.uint64))),
            "tf_bytes": varbyte_encode(np.zeros(len(d), dtype=np.uint64)),
            "block_last_docs": [int(d[-1])] if len(d) else [],
            "block_max_tfs": [],
            "block_min_dls": [],
            "block_doc_offsets": [0, 0],
            "block_tf_offsets": [0, 0],
        }
        row["block_doc_offsets"] = [0, len(row["doc_bytes"])]
        row["block_tf_offsets"] = [0, len(row["tf_bytes"])]
        return pd.DataFrame([row], columns=_SEG_COLS)

    tomb = (
        ids.withColumn("shard_id", shard_col(F.col("doc_id"), n_shards))
        .groupBy("shard_id")
        .applyInPandas(build_tomb, schema=SEGMENT_SCHEMA)
    )
    existing = _glob.glob(os.path.join(paths.root, "segments", "group=*"))
    g = 1 + max((int(p.rsplit("=", 1)[1]) for p in existing), default=-1)
    final = paths.group_dir(g)
    tmp = os.path.join(os.path.dirname(final), f"_staging_group_{g}")
    tomb.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, final)
    return g


def append_group(spark: SparkSession, dst_dir: str, src_dir: str) -> int:
    """The SUPPORTED way to append another build's segment group(s) to an
    existing index (LSM ingest). Validates build-config compatibility
    first: a group built with a different n_shards or tokenizer mode has
    a different doc->shard layout and would silently produce wrong doc
    lengths / non-deduplicable re-ingests (ADVICE r01). Copies every
    source group under the next free group ids and returns how many
    groups were appended. Caller re-finalizes stats (or runs
    merge_segments, which recomputes them)."""
    import shutil

    dst, src = IndexPaths(dst_dir), IndexPaths(src_dir)
    with open(dst.config_json) as f:
        dcfg = json.load(f)
    with open(src.config_json) as f:
        scfg = json.load(f)
    for k in ("n_shards", "mode"):
        if dcfg.get(k) != scfg.get(k):
            raise ValueError(
                f"append_group: incompatible build config ({k}: "
                f"{dcfg.get(k)!r} != {scfg.get(k)!r}); groups from a "
                "different doc->shard layout cannot be appended"
            )
    import glob as _glob

    existing = _glob.glob(os.path.join(dst.root, "segments", "group=*"))
    next_g = 1 + max(
        (int(p.rsplit("=", 1)[1]) for p in existing), default=-1
    )
    n = 0
    for p in sorted(_glob.glob(os.path.join(src.root, "segments", "group=*"))):
        final = dst.group_dir(next_g + n)
        # crash-safe: copy into a staging dir the segment glob can't see
        # (underscore prefix — also skipped by parquet partition
        # discovery), then atomically rename into place; a crash mid-copy
        # leaves only the invisible staging dir behind
        tmp = os.path.join(os.path.dirname(final), f"_staging_group_{next_g + n}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        shutil.copytree(p, tmp)
        os.rename(tmp, final)
        n += 1
    return n


@dataclass
class SegmentIndex:
    segments: DataFrame  # term rows AND term=NULL doclen rows
    termstats: DataFrame
    stats: dict
    paths: IndexPaths
    df_map: dict | None = None  # term -> df, set by prepare_for_queries
    dl_map: dict | None = None  # shard_id -> (sorted doc_ids, dls)
    serving_groups: tuple | None = None  # on-disk group snapshot at load/prepare time
    # serving-mode LRU of collected segment rows keyed by term (misses
    # cached as empty lists); query/wand.py fills and evicts it. Bounded
    # by postings count, invalidated with the whole snapshot by
    # assert_serving_fresh (mutations force a re-load -> fresh cache).
    term_rows_cache: dict | None = None
    term_rows_postings: int = 0  # running n_postings total of term_rows_cache
    tomb_rows_cache: list | None = None  # tombstone rows, collected once

    def _group_dirs(self) -> tuple:
        import glob as _glob

        return tuple(
            sorted(_glob.glob(os.path.join(self.paths.root, "segments", "group=*")))
        )

    def assert_serving_fresh(self) -> None:
        """The segments DataFrame pins the concrete group-dir list at
        load_index time (and df_map/dl_map at prepare_for_queries time);
        a delete_docs/append_group after EITHER point would otherwise be
        silently invisible to queries. load_index snapshots the listing,
        so this fires for unprepared loads too — raise loudly instead of
        answering from a stale snapshot."""
        if self.serving_groups is None:
            return
        cur = self._group_dirs()
        if cur != self.serving_groups:
            raise RuntimeError(
                "SegmentIndex snapshot is stale: segment groups changed "
                "on disk after this index was loaded "
                f"({len(self.serving_groups)} -> {len(cur)} groups). "
                "Re-run load_index(...) (plus prepare_for_queries() for "
                "serving mode)."
            )

    @property
    def doclen_rows(self) -> DataFrame:
        return self.segments.filter(F.col("term").isNull())

    def prepare_for_queries(
        self,
        collect_termstats_max: int = 2_000_000,
        collect_doclen_max: int = 10_000_000,
    ) -> "SegmentIndex":
        """Serving-mode warm-up: pin the segment rows in executor memory
        and, when small enough to hold on the driver, collect
        (a) the term->df table (<= collect_termstats_max terms,
        ~30 B/term) so per-query idf lookups stop costing a Spark job,
        and (b) the per-shard doc-length arrays (<= collect_doclen_max
        docs, 16 B/doc) which unlock the driver-local fast path for
        selective queries (query/wand.py). At web scale (10^8+ term
        vocabularies, 10^12 docs) both collects skip automatically and
        queries use the distributed path; segment caching remains valid
        at any scale because Spark caches per-partition and evicts LRU."""
        # ADVICE r04: never RE-snapshot here. The parquet path list was
        # pinned at load_index time; re-listing the directory would
        # silently adopt a group appended/deleted between load_index()
        # and prepare_for_queries() — assert_serving_fresh would then
        # pass while self.segments still reads the load-time paths,
        # serving stale results. Verify against the load-time snapshot
        # instead (raises loudly on mutation); only direct constructions
        # that never went through load_index snapshot now.
        if self.serving_groups is None:
            self.serving_groups = self._group_dirs()
        else:
            self.assert_serving_fresh()
        self.term_rows_cache = {}
        self.term_rows_postings = 0
        self.segments.cache().count()
        if self.termstats.count() <= collect_termstats_max:
            self.df_map = {
                r["term"]: int(r["df"])
                for r in self.termstats.select("term", "df").collect()
            }
        if int(self.stats.get("n_docs", 0)) <= collect_doclen_max:
            parts: dict[int, list] = {}
            for r in self.doclen_rows.collect():
                d, l = decode_doclen_row(r)
                parts.setdefault(int(r["shard_id"]), []).append((d, l))
            self.dl_map = {}
            for sid, ps in parts.items():
                d = np.concatenate([p[0] for p in ps])
                l = np.concatenate([p[1] for p in ps])
                order = np.argsort(d, kind="stable")
                self.dl_map[sid] = (d[order], l[order])
        return self

    def postings_df(self, terms: list[str] | None = None, _tomb=_UNSET) -> DataFrame:
        """Decoded (term, doc_id, tf) postings — the RELATIONAL view of
        the compressed LSM index, so every relational query surface
        (boolean retrieval, substring candidates, fuzzy df ranking, the
        exact join+agg scorer) runs against the production segments with
        no second index build.

        ``terms`` slices the decode to a term set (an IN filter pushed
        into the parquet scan — at scale this is the whole point: only
        the queried posting lists are ever decoded). Tombstoned docs are
        anti-joined out; duplicate (term, doc) rows from multi-group
        appends collapse by max-tf — byte-for-byte the merge rule
        (merge.py), so the view equals the post-merge index.
        """
        seg = self.segments.filter(
            F.col("term").isNotNull() & (F.col("term") != TOMBSTONE_TERM)
        )
        if terms is not None:
            seg = seg.filter(F.col("term").isin(list(terms)))

        def _decode(it):
            # block-aware decode: the delta stream RESTARTS (absolute
            # doc_id) at every BLOCK_SIZE boundary, so a whole-stream
            # delta_decode corrupts any list longer than one block —
            # decode_posting_list walks the block offsets.
            from alertsage_spark.index.compress import decode_posting_list

            for pdf in it:
                outs = []
                for r in pdf.itertuples(index=False):
                    docs, tfs = decode_posting_list(
                        {
                            "doc_bytes": bytes(r.doc_bytes),
                            "tf_bytes": bytes(r.tf_bytes),
                            "block_doc_offsets": r.block_doc_offsets,
                            "block_tf_offsets": r.block_tf_offsets,
                        }
                    )
                    outs.append(
                        pd.DataFrame(
                            {"term": r.term, "doc_id": docs, "tf": tfs}
                        )
                    )
                yield (
                    pd.concat(outs)
                    if outs
                    else pd.DataFrame(
                        {"term": pd.Series(dtype="object"),
                         "doc_id": pd.Series(dtype="int64"),
                         "tf": pd.Series(dtype="int64")}
                    )
                )

        raw = seg.select(
            "term", "doc_bytes", "tf_bytes",
            "block_doc_offsets", "block_tf_offsets",
        ).mapInPandas(_decode, schema="term string, doc_id long, tf long")
        out = raw.groupBy("term", "doc_id").agg(F.max("tf").alias("tf"))
        tomb = self._tombstone_docs_df() if _tomb is _UNSET else _tomb
        if tomb is not None:
            out = out.join(tomb, "doc_id", "left_anti")
        return out

    def doclen_df(self, _tomb=_UNSET) -> DataFrame:
        """Decoded (doc_id, dl) — max-dl dedup across groups (the merge
        rule), tombstoned docs removed."""

        def _decode(it):
            for pdf in it:
                outs = []
                for r in pdf.itertuples(index=False):
                    d, l = decode_doclen_row(
                        {"doc_bytes": r.doc_bytes, "tf_bytes": r.tf_bytes}
                    )
                    outs.append(pd.DataFrame({"doc_id": d, "dl": l}))
                yield (
                    pd.concat(outs)
                    if outs
                    else pd.DataFrame(
                        {"doc_id": pd.Series(dtype="int64"),
                         "dl": pd.Series(dtype="int64")}
                    )
                )

        raw = self.doclen_rows.select("doc_bytes", "tf_bytes").mapInPandas(
            _decode, schema="doc_id long, dl long"
        )
        out = raw.groupBy("doc_id").agg(F.max("dl").alias("dl"))
        tomb = self._tombstone_docs_df() if _tomb is _UNSET else _tomb
        if tomb is not None:
            out = out.join(tomb, "doc_id", "left_anti")
        return out

    def _tombstone_docs_df(self) -> DataFrame | None:
        tombs = self.segments.filter(F.col("term") == TOMBSTONE_TERM)

        def _decode(it):
            from alertsage_spark.index.compress import (
                delta_decode,
                varbyte_decode,
            )

            for pdf in it:
                outs = [
                    pd.DataFrame(
                        {
                            "doc_id": delta_decode(
                                varbyte_decode(bytes(r.doc_bytes))
                            ).astype("int64")
                        }
                    )
                    for r in pdf.itertuples(index=False)
                ]
                yield (
                    pd.concat(outs)
                    if outs
                    else pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
                )

        # cheap local probe: no tombstone rows -> skip the anti-join
        if not tombs.take(1):
            return None
        return tombs.select("doc_bytes").mapInPandas(
            _decode, schema="doc_id long"
        ).distinct()

    def as_inverted_index(self, terms: list[str] | None = None):
        """The compressed index exposed through the InvertedIndex
        protocol (build.py), making bm25_topk / boolean_topk /
        pattern_search / suggest run on the LSM segments directly.
        ``terms`` slices the decode to the query's vocabulary — the
        scale path: only the consulted posting lists are ever decoded.
        n_docs/avgdl come from stats.json and (like the kernels) stay
        stale between a delete and the purging merge — the Lucene
        lifecycle contract documented at TOMBSTONE_TERM."""
        from alertsage_spark.index.build import InvertedIndex

        tomb = self._tombstone_docs_df()  # probe/decode ONCE for both views
        return InvertedIndex(
            doclen=self.doclen_df(_tomb=tomb),
            postings=self.postings_df(terms=terms, _tomb=tomb),
            termstats=self.termstats,
            n_docs=int(self.stats["n_docs"]),
            avgdl=float(self.stats["avgdl"]),
            mode=self.stats.get("mode", "text"),
        )


def load_index(spark: SparkSession, index_dir: str) -> SegmentIndex:
    paths = IndexPaths(index_dir)
    with open(paths.stats_json) as f:
        stats = json.load(f)
    idx = SegmentIndex(
        segments=spark.read.option(
            "basePath", os.path.join(paths.root, "segments")
        ).parquet(*paths.group_dirs()),
        termstats=spark.read.parquet(paths.termstats),
        stats=stats,
        paths=paths,
    )
    # The parquet path list above is pinned NOW; snapshot it so any
    # later on-disk mutation raises at query time rather than serving
    # stale results (prepare_for_queries KEEPS this snapshot and
    # re-verifies it — it must not re-list, or a mutation in the
    # load->prepare gap would be silently adopted).
    idx.serving_groups = idx._group_dirs()
    return idx
