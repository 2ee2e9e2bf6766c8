"""The three benchmark workloads, their seeded inputs and the answer gate.

Every workload is one closed-loop client in one process: each operation
starts only after the previous one returned. An operation ("op") is one
query, one build, one ingest, one snapshot reload or one compaction.
Only the engine's public entry points are called; the fast and the
distributed query paths are told apart by what the run counts (driver
kernel calls, Spark jobs per op), never by reading engine counters.

Workloads (why each exists):

* ``text_serve`` -- the reference query set (18 SOC narratives plus
  seeded word-subset variants) over a documents-shaped text corpus that
  fits the driver's term-row cache and doc-length budget, so the driver
  fast path serves every query: driver kernels and result
  materialization do the work, Spark scheduling almost none.
* ``code_distributed`` -- identifier queries over the north-star code
  corpus (repo, path, commit, lang, content), prepared with
  ``prepare_for_queries(collect_doclen_max=0)`` so doc lengths stay off
  the driver as at web scale: every query runs the distributed
  ``applyInPandas`` scorer. Spark scheduling and the Python worker
  boundary do the work; every fast-path optimization is bypassed.
* ``code_lifecycle`` -- writes beside reads on one growing multi-group
  code index: ``ingest_batch`` of disjoint docs, reload, a burst of
  fast-path queries on the cold fresh snapshot, and ``maybe_compact``
  once enough groups pile up. A change that helps reads at the cost of
  writes, or the reverse, shows here.
"""

from __future__ import annotations

import glob
import inspect
import os
import random
import re
import resource
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from alertsage_spark.index import merge as merge_mod
from alertsage_spark.index import segments as seg_mod
from alertsage_spark.query import wand as wand_mod
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.refqueries import REFERENCE_QUERIES
from alertsage_spark.sources.code_corpus import prepare_code_corpus
from alertsage_spark.streaming import ingest as ingest_mod
from alertsage_spark.synth import code_corpus
from alertsage_spark.tokenizer import code_query_terms, token_trigrams, tokenize_py

from perfbench.trace import Tracer

K = 10
SCORE_TOL = 1e-6

# Sizes fit a whole run (JVM start, the set-ups, the steady warm-up, the
# timed loop and the oracle) into about a minute on 4 cores; tests pass
# smaller ones. The lifecycle workload sets up three times so that
# build_docs_per_s is the median of two warm builds, and compacts at two
# groups so one ingest cycle plus one compaction fits the time.
SIZES = {
    "text_serve": dict(n_docs=16_000, replicate=16, n_shards=4, setup_reps=2, variants=6,
                       steady_queries=48),
    "code_distributed": dict(n_docs=4_000, doclen=80, n_shards=4, setup_reps=2, pool=28,
                             steady_queries=20),
    "code_lifecycle": dict(
        n_base=600, doclen=30, n_shards=2, setup_reps=3, pool=28,
        batch_docs=100, max_batches=6, max_groups=2, passes=3, steady_queries=28,
    ),
}

# Token list of the sf `documents` fixture: a flat 30-word vocabulary
# (every word in ~3% of tokens), 10-100 tokens per document.
FLAT_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REF_SHARE = 0.2  # share of tokens drawn (Zipf) from the reference-query words


# ---------------------------------------------------------------- inputs


def text_corpus(n_docs: int, replicate: int, seed: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows shaped like the `documents` fixture replicated
    ``replicate`` times (distinct ids, identical texts), with a Zipf tail
    of reference-query words so the narratives have selective terms."""
    rng = random.Random(seed)
    ref_words = sorted({t for _c, _l, q in REFERENCE_QUERIES for t in tokenize_py(q)})
    rng.shuffle(ref_words)
    weights = [1.0 / (r + 1) for r in range(len(ref_words))]
    base = n_docs // replicate
    texts = []
    for _ in range(base):
        n = rng.randint(10, 100)
        n_ref = sum(rng.random() < REF_SHARE for _ in range(n))
        toks = rng.choices(FLAT_WORDS, k=n - n_ref) + rng.choices(ref_words, weights, k=n_ref)
        rng.shuffle(toks)
        texts.append(" ".join(toks))
    return [(r * base + i, texts[i]) for r in range(replicate) for i in range(base)]


def text_queries(n_variants: int, seed: int) -> list[tuple[str, str]]:
    """The 18 reference queries plus seeded word-subset variants."""
    rng = random.Random(seed)
    pool = [(cid, text) for cid, _label, text in REFERENCE_QUERIES]
    for v in range(n_variants):
        _cid, _l, text = rng.choice(REFERENCE_QUERIES)
        words = text.split()
        keep = [w for w in words if rng.random() < 0.5] or words[:3]
        pool.append((f"V{v:02d}", " ".join(keep)))
    return pool


def code_queries(contents: list[str], n: int, seed: int) -> list[tuple[str, str]]:
    """Seeded identifier queries drawn from the generated contents: exact
    camelCase and snake_case ids, the hot term ``spark``, and bare camel
    stems (digits stripped) whose tail falls back to trigrams."""
    rng = random.Random(seed)
    toks = sorted({t for c in contents for t in c.split()})
    camel = [t for t in toks if re.search(r"[a-z][A-Z]", t)]
    snake = [t for t in toks if "_" in t]
    pool = [("HOT", "spark"), ("HOT2", f"spark {rng.choice(camel)}")]
    kinds = ("camel", "snake", "stem")
    for i in range(n - len(pool)):
        kind = kinds[i % 3]
        if kind == "camel":
            text = rng.choice(camel)
        elif kind == "snake":
            text = rng.choice(snake)
        else:
            text = re.sub(r"\d+$", "", rng.choice(camel))
        pool.append((f"{kind}{i:02d}", text))
    return pool


def sub_seed(workload: str, seed: int, what: str) -> int:
    return random.Random(f"{workload}/{seed}/{what}").randrange(1, 2**31)


def op_sequence(pool, seed: int):
    """Seeded permutations of the query pool, one after another: every
    run asks each kind of query equally often, so runs on different
    seeds differ in the ids drawn, not in the query mix."""
    rng = random.Random(seed)
    while True:
        order = list(pool)
        rng.shuffle(order)
        yield from order


# ---------------------------------------------------------------- oracle


class CandidateOracle(BM25Oracle):
    """``BM25Oracle`` that scans only documents holding a possible query
    term. Every other document scores 0, which ``BM25Oracle.topk`` drops,
    so the answer is the oracle's own; only the scan is shorter."""

    def __init__(self, docs, mode: str = "text") -> None:
        super().__init__(docs, mode)
        self._docs_with: dict[str, list[int]] = {}

    def add(self, other: BM25Oracle) -> None:
        """Add the (disjoint) documents of ``other``, as if both document
        lists had been passed to one constructor."""
        self.doc_tfs.update(other.doc_tfs)
        self.doclen.update(other.doclen)
        self.df.update(other.df)
        self.n_docs = len(self.doc_tfs)
        self.avgdl = sum(self.doclen.values()) / self.n_docs
        self._docs_with.clear()

    def _candidates(self, text: str) -> set[int]:
        terms = set(tokenize_py(text, mode="text"))
        if self.mode == "code":  # superset of code_query_terms' output
            terms |= {g for t in list(terms) for g in token_trigrams(t)}
        out: set[int] = set()
        for t in terms:
            if t not in self._docs_with:
                self._docs_with[t] = [d for d, tfs in self.doc_tfs.items() if t in tfs]
            out.update(self._docs_with[t])
        return out

    def topk(self, query_text: str, k: int = 10, min_score=None):
        full = self.doc_tfs
        self.doc_tfs = {d: full[d] for d in self._candidates(query_text)}
        try:
            return super().topk(query_text, k, min_score)
        finally:
            self.doc_tfs = full


def answer_matches(got: list[tuple[int, float]], want: list[tuple[int, float, int]]) -> bool:
    return [d for d, _s in got] == [d for d, _s, _r in want] and all(
        abs(s - w) <= SCORE_TOL for (_d, s), (_w, w, _r) in zip(got, want)
    )


# ---------------------------------------------------------------- runner


@dataclass
class Op:
    id: int
    kind: str  # build | reload | query | verify | ingest | compact
    ms: float = 0.0
    end: float = 0.0  # perf_counter() when the op returned
    ok: bool = True
    error: str = ""
    snapshot: int = -1
    query: str = ""
    answer: list = field(default_factory=list)
    groups: int = 0
    traced: bool = True


class Run:
    """State of one workload run: ops, timings, tracer and report."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 work_dir: str, trace: bool, sizes: dict | None = None):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.seconds, self.work_dir, self.trace = seconds, work_dir, trace
        self.cfg = dict(SIZES[workload], **(sizes or {}))
        self.tracer = Tracer()
        self.tracer.enabled = trace
        self.ops: list[Op] = []
        self.report: dict[str, object] = {}
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.loop_ns = (0, 0)
        self.visible: list[tuple[int, float]] = []  # (first query op id, ms)
        self.cache_stats = dict(lookups=0, hits=0, evictions=0, max_postings=0)
        self._last_terms: list[str] = []
        self._pairs = 0
        self.index = None
        self.input_bytes = 0
        self.n_docs = 0
        self.oracle_s = 0.0
        os.makedirs(work_dir, exist_ok=True)

    # ops ------------------------------------------------------------

    def op(self, kind: str, fn, **meta):
        """Run ``fn`` as one op in its own Spark job group; an exception
        marks the op failed and returns None."""
        o = Op(id=len(self.ops), kind=kind, traced=self.tracer.enabled, **meta)
        self.ops.append(o)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{o.id}", f"{self.workload} {kind}")
        t0 = time.perf_counter()
        try:
            with self.tracer.op(o.id, kind):
                return fn()
        except Exception as e:  # the run goes on; the failure is counted
            o.ok, o.error = False, f"{type(e).__name__}: {e}"
            return None
        finally:
            o.end = time.perf_counter()
            o.ms = (o.end - t0) * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)

    def query(self, index, qid: str, text: str, snapshot: int) -> Op:
        def call():
            before = set(index.term_rows_cache or ()) if self.tracer.enabled else None
            self._last_terms = []
            with self.tracer.span("wand.call"):
                df = wand_mod.wand_topk(self.spark, index, [(qid, text)], k=K, algo="auto")
            with self.tracer.span("wand.collect"):
                rows = df.collect()
            if self.tracer.enabled:
                self._count_cache(index, before)
            return rows

        rows = self.op("query", call, snapshot=snapshot, query=text,
                       groups=len(index.serving_groups or ()))
        o = self.ops[-1]
        if rows is not None:
            o.answer = [(int(r["doc_id"]), float(r["score"]))
                        for r in sorted(rows, key=lambda r: r["rank"])]
        return o

    def _count_cache(self, index, before: set) -> None:
        cache = index.term_rows_cache
        terms = set(self._last_terms)
        if cache is None or not terms or not terms <= cache.keys():
            return  # distributed path: the driver cache was not consulted
        st = self.cache_stats
        st["lookups"] += len(terms)
        st["hits"] += len(terms & before)
        st["evictions"] += len(before - cache.keys())
        st["max_postings"] = max(
            st["max_postings"],
            sum(int(r["n_postings"]) for rows in cache.values() for r in rows),
        )

    def build(self, docs, index_dir: str, mode: str, fidelity=None) -> None:
        def call():
            with self.tracer.span("segments.build"):
                return seg_mod.build_segments(
                    self.spark, docs, index_dir, n_shards=self.cfg["n_shards"],
                    n_groups=1, mode=mode, resume=False, fidelity_hashes=fidelity,
                )

        out = self.op("build", call)
        if out is None:
            raise RuntimeError(f"index build failed: {self.ops[-1].error}")
        self.build_s.append(self.ops[-1].ms / 1000.0)
        self.report["build_docs"] = int(out["stats"]["n_docs"])

    def reload(self, index_dir: str, **prepare_kw):
        def call():
            with self.tracer.span("segments.load"):
                idx = seg_mod.load_index(self.spark, index_dir)
            with self.tracer.span("segments.prepare"):
                return idx.prepare_for_queries(**prepare_kw)

        idx = self.op("reload", call)
        if idx is None:
            raise RuntimeError(f"index reload failed: {self.ops[-1].error}")
        return idx

    def serve(self, index, old=None) -> None:
        if old is not None and old is not index:
            old.segments.unpersist()
        self.index = index

    # set-up and timed loop -----------------------------------------

    def setup(self, one_setup, pool) -> None:
        """Set up ``setup_reps`` times; the median is ``setup_s``. Each rep
        builds into a fresh directory; the last rep's index is served.
        Between the first (cold) rep and the second, untimed single
        queries from ``pool()`` bring the session to steady state: the
        first ~20 single queries after a set-up run 20-50% slower, and
        neither the later builds nor the timed loop should measure that."""
        for rep in range(self.cfg["setup_reps"]):
            t0 = time.perf_counter()
            index = one_setup(os.path.join(self.work_dir, f"setup{rep}"))
            self.setup_s.append(time.perf_counter() - t0)
            self.serve(index, self.index)
            if rep == 0:
                self.steady_warm_up(index, pool())
        for d in glob.glob(os.path.join(self.work_dir, "setup*")):
            if d != self.index.paths.root.rstrip("/"):
                shutil.rmtree(d, ignore_errors=True)

    def warm_up(self, index, pool) -> None:
        wand_mod.wand_topk(self.spark, index, pool, k=K, algo="auto").collect()

    def steady_warm_up(self, index, pool) -> None:
        """``steady_queries`` single queries, one call each as in the
        timed loop: planning and scheduling paths warm per call, not per
        query in a batch."""
        seq = op_sequence(pool, sub_seed(self.workload, self.seed, "warm"))
        t0 = time.perf_counter()
        for _ in range(self.cfg["steady_queries"]):
            wand_mod.wand_topk(self.spark, index, [next(seq)], k=K, algo="auto").collect()
        self.report["steady_warm_up_s"] = time.perf_counter() - t0

    def query_loop(self, index, pool, snapshot: int) -> None:
        seq = op_sequence(pool, sub_seed(self.workload, self.seed, "ops"))
        t0 = time.perf_counter_ns()
        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline:
            self.traced_query(index, *next(seq), snapshot)
        self.loop_ns = (t0, time.perf_counter_ns())

    def traced_query(self, index, qid, text, snapshot) -> Op:
        """One query. In a traced run, the query also runs once with layer
        spans off, in alternating order, to measure the tracing overhead."""
        if not self.trace:
            return self.query(index, qid, text, snapshot)
        self._pairs += 1
        out = None
        for on in ((True, False) if self._pairs % 2 else (False, True)):
            self.tracer.enabled = on
            o = self.query(index, qid, text, snapshot)
            out = o if on else out
        self.tracer.enabled = True
        return out

    # tracing ---------------------------------------------------------

    def install_tracing(self) -> None:
        tr = self.tracer

        def keep_terms(out):
            self._last_terms.extend(out)

        tr.patch(wand_mod, "wand_topk_shard", "wand.kernel")
        tr.patch(wand_mod, "taat_topk_shard", "wand.kernel")
        tr.patch(wand_mod, "decode_term_row", "wand.decode")
        tr.patch(wand_mod, "tokenize_py", "tokenizer.query", keep_terms)
        tr.patch(wand_mod, "code_query_terms", "tokenizer.query", keep_terms)
        tr.patch(seg_mod.SegmentIndex, "assert_serving_fresh", "wand.fresh_probe")
        tr.patch(ingest_mod, "build_segments", "ingest.build")
        tr.patch(ingest_mod, "refresh_stats_incremental", "ingest.stats")

    # results ---------------------------------------------------------

    def check_answers(self, oracle_for_snapshot) -> None:
        """Rank identity against the oracle for every distinct (snapshot,
        query), checked for every op that asked it. Runs after the timed
        loop; its cost is reported on its own."""
        t0 = time.perf_counter()
        by_key: dict[tuple[int, str], list[Op]] = defaultdict(list)
        for o in self.ops:
            if o.kind == "query" and o.ok:
                by_key[(o.snapshot, o.query)].append(o)
        for snapshot in sorted({s for s, _q in by_key}):
            oracle = oracle_for_snapshot(snapshot)
            for (s, q), ops in by_key.items():
                if s != snapshot:
                    continue
                want = oracle.topk(q, k=K)
                for o in ops:
                    if not answer_matches(o.answer, want):
                        o.ok, o.error = False, f"answer differs from the oracle for {q!r}"
        self.oracle_s += time.perf_counter() - t0
        self.report["oracle_checked_keys"] = len(by_key)
        self.report["oracle_covered_ops"] = sum(len(v) for v in by_key.values())

    def size_report(self, index, pool_terms: list[str]) -> None:
        """Exact workload sizes: docs, bytes, postings, vocabulary and the
        query working set against the driver's cache budgets."""
        segs = index.segments.filter(
            F.col("term").isNotNull() & (F.col("term") != seg_mod.TOMBSTONE_TERM)
        ).agg(
            F.sum("n_postings").alias("p"),
            F.sum(F.length("doc_bytes") + F.length("tf_bytes")).alias("b"),
            F.count(F.lit(1)).alias("rows"),
        ).collect()[0]
        root = index.paths.root
        disk = sum(
            os.path.getsize(os.path.join(d, f))
            for sub in ("segments", "termstats")
            for d, _dirs, files in os.walk(os.path.join(root, sub))
            for f in files
        )
        df_map = index.df_map or {}
        dl_budget = inspect.signature(seg_mod.SegmentIndex.prepare_for_queries).parameters[
            "collect_doclen_max"
        ].default
        self.report.update(
            docs=self.n_docs,
            input_bytes=self.input_bytes,
            postings=int(segs["p"] or 0),
            compressed_bytes=int(segs["b"] or 0),
            term_rows=int(segs["rows"]),
            vocabulary=len(df_map) if df_map else index.termstats.count(),
            disk_bytes=disk,
            groups=len(index.serving_groups or ()),
            query_pool_terms=len(set(pool_terms)),
            query_pool_postings=sum(df_map.get(t, 0) for t in set(pool_terms)),
            term_cache_budget_postings=wand_mod.TERM_CACHE_MAX_POSTINGS,
            doclen_budget_docs=dl_budget,
            df_map_terms=len(df_map),
            dl_map_docs=sum(len(d) for d, _l in (index.dl_map or {}).values()),
        )

    def peak_rss_mb(self) -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def pool_terms(index, pool) -> list[str]:
    mode = index.stats.get("mode", "text")
    if mode == "code":
        has = (index.df_map or {}).__contains__
        return [t for _q, text in pool for t in code_query_terms(text, has)]
    return [t for _q, text in pool for t in tokenize_py(text, mode=mode)]


# ---------------------------------------------------------------- workloads


def run_text_serve(run: Run) -> None:
    cfg, spark = run.cfg, run.spark
    pool = text_queries(cfg["variants"], sub_seed(run.workload, run.seed, "queries"))
    docs: list = []

    def one_setup(index_dir):
        docs[:] = text_corpus(cfg["n_docs"], cfg["replicate"],
                              sub_seed(run.workload, run.seed, "corpus"))
        sdf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]),
                                    "doc_id long, text string")
        run.build(sdf, index_dir, "text")
        index = run.reload(index_dir)
        run.warm_up(index, pool)
        return index

    run.setup(one_setup, lambda: pool)
    run.n_docs = len(docs)
    run.input_bytes = sum(len(t.encode()) for _d, t in docs)
    run.query_loop(run.index, pool, 0)
    run.report["driver_py_peak_rss_mb"] = run.peak_rss_mb()
    run.size_report(run.index, pool_terms(run.index, pool))
    t0 = time.perf_counter()
    oracle = CandidateOracle(docs, mode="text")
    run.oracle_s = time.perf_counter() - t0
    run.check_answers(lambda _s: oracle)


def _code_slices(run: Run, n_total: int):
    """Slicer of the seeded code corpus: (lo, hi) -> the (docs, fidelity)
    pair of generator rows lo..hi-1."""
    cc = code_corpus(run.spark, n_total, doclen=run.cfg["doclen"],
                     seed=sub_seed(run.workload, run.seed, "corpus"),
                     n_partitions=run.spark.sparkContext.defaultParallelism)
    row_id = F.regexp_extract("path", r"file_(\d+)\.py$", 1).cast("long")

    def piece(lo: int, hi: int):
        return prepare_code_corpus(cc.filter((row_id >= lo) & (row_id < hi)))

    return piece


def _collect_docs(docs) -> list[tuple[int, str]]:
    return [(int(r["doc_id"]), r["text"]) for r in docs.collect()]


def run_code_distributed(run: Run) -> None:
    cfg = run.cfg
    state: dict = {}

    def one_setup(index_dir):
        piece = _code_slices(run, cfg["n_docs"])
        docs, fid = piece(0, cfg["n_docs"])
        run.build(docs, index_dir, "code", fid)
        index = run.reload(index_dir, collect_doclen_max=0)
        if "pool" not in state:
            state["docs"] = _collect_docs(docs)
            state["pool"] = code_queries([t for _d, t in state["docs"]], cfg["pool"],
                                         sub_seed(run.workload, run.seed, "queries"))
        run.warm_up(index, state["pool"])
        return index

    run.setup(one_setup, lambda: state["pool"])
    pool = state["pool"]
    run.query_loop(run.index, pool, 0)
    run.report["driver_py_peak_rss_mb"] = run.peak_rss_mb()
    t0 = time.perf_counter()
    live = state["docs"]
    oracle = CandidateOracle(live, mode="code")
    run.oracle_s = time.perf_counter() - t0
    run.n_docs = len(live)
    run.input_bytes = sum(len(t.encode()) for _d, t in live)
    run.size_report(run.index, pool_terms(run.index, pool))
    run.check_answers(lambda _s: oracle)


def run_code_lifecycle(run: Run) -> None:
    cfg, spark = run.cfg, run.spark
    n_base, bsz = cfg["n_base"], cfg["batch_docs"]
    state: dict = {}

    def one_setup(index_dir):
        piece = _code_slices(run, n_base + cfg["max_batches"] * bsz)
        docs, fid = piece(0, n_base)
        run.build(docs, index_dir, "code", fid)
        index = run.reload(index_dir)
        if "pool" not in state:
            state["base"] = _collect_docs(docs)
            state["pool"] = code_queries([t for _d, t in state["base"]], cfg["pool"],
                                         sub_seed(run.workload, run.seed, "queries"))
        run.warm_up(index, state["pool"])
        state["piece"] = piece
        return index

    run.setup(one_setup, lambda: state["pool"])
    pool, piece = state["pool"], state["piece"]
    batches = [piece(n_base + b * bsz, n_base + (b + 1) * bsz) for b in range(cfg["max_batches"])]
    index_dir = run.index.paths.root
    snapshot, live = 0, [0]  # snapshot -> number of ingested batches it serves

    def burst(index):
        # the first pass over the pool meets a cold term-row cache, the
        # later passes a warm one: the tail sees the fetches, the median
        # the kernels on a multi-group snapshot
        seq = op_sequence(pool, sub_seed(run.workload, run.seed, f"ops{snapshot}"))
        for _ in range(cfg["passes"] * len(pool)):
            run.traced_query(index, *next(seq), snapshot)

    # whole cycles until the time is up and one compaction has run
    t_loop = time.perf_counter_ns()
    deadline = time.perf_counter() + run.seconds
    compacted = False
    for b, (docs, fid) in enumerate(batches):
        if compacted and time.perf_counter() >= deadline:
            break
        # the content-sha256 gate; full builds run it inside build_segments
        run.op("verify", lambda: seg_mod.verify_corpus_fidelity(docs, fid))
        t0 = time.perf_counter()

        def ingest():
            with run.tracer.span("ingest.batch"):
                if not ingest_mod.ingest_batch(spark, docs, b, index_dir,
                                               n_shards=cfg["n_shards"], mode="code"):
                    raise RuntimeError(f"batch {b} was not committed")

        run.op("ingest", ingest)
        index = run.reload(index_dir)
        snapshot += 1
        live.append(b + 1)
        run.serve(index, run.index)
        first = len(run.ops)
        burst(index)
        run.visible.append((first, (run.ops[first].end - t0) * 1000.0))
        out_dir = os.path.join(run.work_dir, f"compact{b}")
        n_groups = len(glob.glob(os.path.join(index_dir, "segments", "group=*")))

        def compact():
            with run.tracer.span("merge.compact"):
                return merge_mod.maybe_compact(spark, index_dir, out_dir,
                                               max_groups=cfg["max_groups"])

        if n_groups >= cfg["max_groups"]:
            compacted = True
            run.op("compact", compact)
            run.report.setdefault("merge_groups_in", []).append(n_groups)
            run.report.setdefault("merge_bytes_rewritten", []).append(sum(
                os.path.getsize(os.path.join(d, f))
                for d, _dirs, files in os.walk(os.path.join(out_dir, "segments"))
                for f in files
            ))
            old_dir, index_dir = index_dir, out_dir
            index = run.reload(index_dir)
            snapshot += 1
            live.append(b + 1)
            run.serve(index, run.index)
            shutil.rmtree(old_dir, ignore_errors=True)
            burst(index)
    run.loop_ns = (t_loop, time.perf_counter_ns())
    run.report["driver_py_peak_rss_mb"] = run.peak_rss_mb()

    t0 = time.perf_counter()
    base_docs = state["base"]
    batch_docs = [_collect_docs(d) for d, _f in batches[: live[-1]]]
    oracle = CandidateOracle(base_docs, mode="code")
    run.oracle_s = time.perf_counter() - t0
    merged = [0]

    def oracle_for(s):
        while merged[0] < live[s]:
            oracle.add(BM25Oracle(batch_docs[merged[0]], mode="code"))
            merged[0] += 1
        return oracle

    every = base_docs + [d for bd in batch_docs for d in bd]
    run.n_docs = len(every)
    run.input_bytes = sum(len(t.encode()) for _d, t in every)
    run.size_report(run.index, pool_terms(run.index, pool))
    run.check_answers(oracle_for)


RUNNERS = {
    "text_serve": run_text_serve,
    "code_distributed": run_code_distributed,
    "code_lifecycle": run_code_lifecycle,
}
