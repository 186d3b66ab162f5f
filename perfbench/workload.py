"""One benchmark run: set-up, a measured window of engine calls, the
correctness checks and (traced runs only) the per-layer probes.

Every engine call goes through its public entry point, inside a named
span.  A traced run tags the span's Spark jobs with
``setJobGroup(span)``; untraced runs only keep the wall times.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

from . import inputs
from .stats import median, percentile

FIELDS = {"title": "path", "body": "content"}
TOP_K = 10
APPEND_DOCS = 250     # documents appended by the traced run's append probe
DELETE_DOCS = 24      # ids per delete_docs call
BATCH_QUERIES = 64    # queries per search_many call
SINGLE_POOL = 40      # distinct single-search queries drawn per query kind
BATCH_POOL = 6        # search_many calls a run can make
# (kind, mode) of the set-up oracle query; a run checks one, chosen by seed
ORACLE_SLOTS = (("head", "or"), ("tail", "and"), ("not", "parse"), ("title", "parse"))

FAILED = object()  # what ``Run.attempt`` returns for an operation that raised


@dataclass(frozen=True)
class Spec:
    """A workload: its index, its kernel path and its window schedule.

    ``cycle`` is the slot sequence the window repeats: "delete", "batch"
    or a (query kind, mode) single search.  Every run walks the same
    sequence, so two seeds differ in query text, never in the mix.  A
    batch slot always follows a search in ``batch_mode`` (the batch
    repeats that query) and a cycle with deletes opens with one (the
    batch asks for a deleted document)."""

    name: str
    n_docs: int
    positions: bool
    prefer_local: bool          # which search kernel path every call takes
    batch_mode: str
    cycle: tuple
    # untimed slots before the window: the first searches of a session
    # run 20-50 % slower while the JVM compiles the search path
    warmup: tuple

    @property
    def kinds(self) -> list[str]:
        return sorted({slot[0] for slot in self.warmup + self.cycle if isinstance(slot, tuple)})


SPECS = {
    s.name: s
    for s in (
        Spec(
            name="distributed",
            n_docs=2000,
            positions=False,
            prefer_local=False,
            batch_mode="or",
            # the one batch runs in the warm-up, so the window is all
            # single searches: as many latency samples as a run can hold
            cycle=(("head", "and"), ("tail", "and"), ("head", "or"), ("tail", "or")),
            warmup=(("head", "and"), ("tail", "or"), "batch"),
        ),
        Spec(
            name="live",
            n_docs=2000,
            positions=True,
            prefer_local=True,
            batch_mode="parse",
            cycle=(
                "delete", ("head", "or"), ("tail", "and"), ("phrase", "parse"), ("prefix", "parse"),
                ("head", "and"), ("tail", "or"), ("not", "parse"), ("title", "parse"), "batch",
            ),
            warmup=(
                ("head", "or"), ("tail", "and"), ("phrase", "parse"), ("prefix", "parse"),
                ("not", "parse"), ("title", "parse"),
            ),
        ),
    )
}


def engine_config(positions: bool):
    """The one index layout both workloads use."""
    from beetle_search_engine_spark.config import EngineConfig, IndexConfig

    return EngineConfig(
        tokenizer="auto",
        index=IndexConfig(
            n_buckets=64,
            bucket_groups=1,
            chunk_docs=1 << 14,
            encode_partitions=8,
            store_positions=positions,
        ),
    )


def _same(a: list[tuple], b: list[tuple]) -> bool:
    """Equal ranked (doc_id, score, rank) lists, scores to 1e-9."""
    return len(a) == len(b) and all(
        x[0] == y[0] and x[2] == y[2] and abs(x[1] - y[1]) <= 1e-9 * max(1.0, abs(x[1]))
        for x, y in zip(a, b)
    )


class Run:
    def __init__(self, spec: Spec, seed: int, seconds: float, work: str, cores: int, trace: bool):
        self.spec, self.seed, self.seconds = spec, seed, seconds
        self.work, self.cores, self.trace = work, cores, trace
        self.spark = None
        self.spans: list[tuple[str, float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = {k: [] for k in ("search", "batch", "append", "refresh", "delete")}
        self.appended_docs = 0
        self.batch_queries = 0
        self.result_rows = 0
        self.facts: dict[str, float] = {}

    # -- bookkeeping ------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if self.trace and self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0 * 1000.0, time.time() * 1000.0))

    def wall(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name) / 1000.0

    def count(self, name: str) -> int:
        return sum(1 for n, _, _ in self.spans if n == name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"check failed: {what}", file=sys.stderr)

    def attempt(self, what: str, fn):
        """Run one operation; a raise is counted as a failure, not fatal,
        and returns FAILED."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed engine call must not end the run
            self.failed += 1
            self.errors.append(f"{what}: {e!r}"[:300])
            traceback.print_exc(file=sys.stderr)
            return FAILED

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from beetle_search_engine_spark.functions.analyzer import analyze_query
        from beetle_search_engine_spark.operators.build import build_index
        from beetle_search_engine_spark.plans.query import BM25Index
        from beetle_search_engine_spark.sources import generate_corpus, get_spark

        t0 = time.time()
        with self.span("session"):
            self.spark = get_spark(f"perfbench-{self.spec.name}", cores=self.cores, shuffle_partitions=8)
            self.spark.sparkContext.setLogLevel("ERROR")
        spark, n = self.spark, self.spec.n_docs

        with self.span("inputs"):
            no = F.regexp_extract("path", inputs.FILE_NO, 1).cast("long")
            self.corpus = generate_corpus(spark, n + APPEND_DOCS, seed=self.seed).withColumn("_no", no)
            self.base_df = self.corpus.filter(F.col("_no") < n).drop("_no")
            docs = self.corpus.select("doc_id", "path", "content", "_no").toArrow().to_pylist()
            self.base_docs = sorted((d for d in docs if d["_no"] < n), key=lambda d: d["_no"])
            self.reserve = sorted((d for d in docs if d["_no"] >= n), key=lambda d: d["_no"])
            vocab = inputs.Vocab(self.base_docs, analyze_query)
            kinds = self.spec.kinds
            singles = {k: inputs.make_queries(vocab, self.seed, SINGLE_POOL, k) for k in kinds}
            self.singles = {k: iter(qs) for k, qs in singles.items()}
            taken = frozenset(q for qs in singles.values() for q in qs)
            k, mode = random.Random(self.seed).choice(ORACLE_SLOTS)
            self.oracle_queries = [(inputs.make_queries(vocab, self.seed + 1, 1, k, avoid=taken)[0], mode)]
            per_kind = -(-BATCH_POOL * BATCH_QUERIES // len(kinds))
            pools = [inputs.make_queries(vocab, self.seed + 2, per_kind, k, avoid=taken) for k in kinds]
            batch_strings = [q for group in zip(*pools) for q in group]
            self.batches = iter(
                batch_strings[i : i + BATCH_QUERIES]
                for i in range(0, BATCH_POOL * BATCH_QUERIES, BATCH_QUERIES)
            )

        self.idx_dir = os.path.join(self.work, "index")
        self.cfg = engine_config(self.spec.positions)
        with self.span("build"):
            self.build = build_index(spark, self.base_df, self.idx_dir, fields=FIELDS, cfg=self.cfg, resume=False)
        with self.span("open"):
            self.idx = BM25Index(spark, self.idx_dir)
        self.setup_s = time.time() - t0

    # -- engine calls -----------------------------------------------------

    def _search(self, q: str, mode: str) -> list[tuple[str, float, int]]:
        rows = self.idx.search(q, TOP_K, mode, prefer_local=self.spec.prefer_local).collect()
        return [(r["doc_id"], r["score"], r["rank"]) for r in rows]

    def _search_many(self, qs: dict[str, str], mode: str) -> dict[str, list[tuple[str, float, int]]]:
        rows = self.idx.search_many(qs, TOP_K, mode, prefer_local=self.spec.prefer_local).collect()
        out: dict[str, list] = {qid: [] for qid in qs}
        for r in rows:
            out[r["query_id"]].append((r["doc_id"], r["score"], r["rank"]))
        return out

    def _timed(self, kind: str, fn):
        with self.span(kind):
            t0 = time.perf_counter()
            res = fn()
            self.lat[kind].append(time.perf_counter() - t0)
        return res

    # -- checks -----------------------------------------------------------

    def oracle_check(self) -> None:
        """Rank identity with the pure-Python BM25F oracle on the base
        index (before any write: deletes leave N/df stale by design)."""
        from beetle_search_engine_spark.plans.parser import parse_query
        from tests.oracle import assert_rank_identical, bm25_oracle

        for q, mode in self.oracle_queries:
            got = self.attempt(f"oracle search {q!r}", lambda: self._search(q, mode))
            if got is FAILED:
                continue
            if mode == "parse":
                pq = parse_query(q, self.idx.analyzer, fields=set(FIELDS))
                want = bm25_oracle(
                    self.base_docs, "", FIELDS, top_k=TOP_K, mode=pq.mode,
                    fielded=pq.fielded, excluded=pq.excluded, terms=pq.terms,
                )
            else:
                want = bm25_oracle(self.base_docs, q, FIELDS, top_k=TOP_K, mode=mode)
            try:
                assert_rank_identical([(d, s) for d, s, _ in got], want)
                ok, why = True, ""
            except AssertionError as e:
                ok, why = False, str(e)
            self.check(ok, f"oracle mismatch for {q!r} ({mode}): {why}")

    # -- the measured window ----------------------------------------------

    def warmup(self) -> None:
        """Reset the window's bookkeeping, then run the workload's
        warm-up slots, untimed but checked, so the window starts warm."""
        self.deleted: set[str] = set()
        self.deleted_docs: list[dict] = []
        self.used_singles: list[tuple[str, str]] = []
        self.last_search = None
        self._rng = random.Random(self.seed)
        self._live_base = list(self.base_docs)
        with self.span("warmup"):
            for slot in self.spec.warmup:
                self._slot(slot, timed=False)

    def window(self) -> None:
        """The workload's slot cycle, slot after slot, until ``seconds``
        have passed.  Every run walks the same sequence, so a run makes a
        prefix of the calls a longer run makes."""
        t0 = time.time()
        while True:
            for slot in self.spec.cycle:
                if not self._slot(slot):
                    return  # a query pool ran out: never repeat a query
                if time.time() - t0 >= self.seconds:
                    return

    def _slot(self, slot, timed: bool = True) -> bool:
        def call(kind: str, fn):
            return (lambda: self._timed(kind, fn)) if timed else fn

        if slot == "delete":
            victims = self._rng.sample(self._live_base, DELETE_DOCS)
            vids = [d["doc_id"] for d in victims]
            self.last_search = None
            n = self.attempt("delete_docs", call("delete", lambda: self.idx.delete_docs(vids)))
            if n is not FAILED:
                self.check(n == len(vids), f"delete_docs removed {n} of {len(vids)}")
                self.deleted.update(vids)
                self.deleted_docs += victims
                self._live_base = [d for d in self._live_base if d["doc_id"] not in self.deleted]
        elif slot == "batch":
            qs = next(self.batches, None)
            if qs is None:
                return False
            # the batch also repeats the search just before it (if it
            # ran in the batch's mode) and asks for the file name of the
            # last deleted document
            mode = self.spec.batch_mode
            ids = {f"q{j}": s for j, s in enumerate(qs[:-2])}
            if self.last_search is not None and self.last_search[0][1] == mode:
                ids["same"] = self.last_search[0][0]
            if self.deleted_docs:
                ids["gone"] = inputs.id_query(self.deleted_docs[-1]["path"])
            got = self.attempt("search_many", call("batch", lambda: self._search_many(ids, mode)))
            if got is not FAILED:
                self.batch_queries += len(ids) if timed else 0
                hits = {r[0] for res in got.values() for r in res}
                self.check(not (hits & self.deleted), "deleted id in search_many results")
                if "same" in ids:
                    (q, _), one = self.last_search
                    self.check(_same(one, got["same"]), f"search and search_many differ for {q!r} ({mode})")
        else:
            kind, mode = slot
            q = next(self.singles[kind], None)
            if q is None:
                return False
            self.used_singles.append((q, mode))
            got = self.attempt(f"search {q!r}", call("search", lambda: self._search(q, mode)))
            self.last_search = None if got is FAILED else ((q, mode), got)
            if got is not FAILED:
                self.result_rows += len(got) if timed else 0
                self.check(not ({r[0] for r in got} & self.deleted), f"deleted id in results of {q!r}")
        return True

    def append_probe(self) -> None:
        """append_epoch + refresh_stats of the reserved documents, then
        each appended document must be found by its unique file name."""
        from beetle_search_engine_spark.streaming.incremental import append_epoch

        new = self.corpus.filter(self.corpus["_no"] >= self.spec.n_docs).drop("_no")
        done = self.attempt("append_epoch", lambda: self._timed(
            "append", lambda: append_epoch(self.spark, self.idx_dir, new, fields=FIELDS, cfg=self.cfg)
        ))
        if done is not FAILED:
            done = self.attempt("refresh_stats", lambda: self._timed("refresh", self.idx.refresh_stats))
        if done is FAILED:
            return
        self.appended_docs = len(self.reserve)
        rng = random.Random(self.seed)
        with self.span("check"):
            for d in rng.sample(self.reserve, min(2, len(self.reserve))):
                got = self.attempt(f"find appended {d['path']}", lambda: self._search(inputs.id_query(d["path"]), "and"))
                if got is not FAILED:
                    self.check(any(r[0] == d["doc_id"] for r in got), f"appended doc {d['path']} not found")

    # -- traced-only probes -----------------------------------------------

    def probes(self) -> None:
        """Layer probes of a traced run, made after the window so the
        window's own timings stay comparable with an untraced run."""
        from pyspark.sql import functions as F

        from beetle_search_engine_spark.functions.xxhash import pmod_bucket
        from beetle_search_engine_spark.operators.docnums import numbered, stage_corpus
        from beetle_search_engine_spark.operators.tokenize import tokenize
        from beetle_search_engine_spark.operators.wand import make_wand_kernel
        from beetle_search_engine_spark.plans.parser import ParsedQuery, parse_query

        spark, idx = self.spark, self.idx
        used = [q for q, _ in self.used_singles]
        fields = set(FIELDS)
        t0 = time.perf_counter()
        for _ in range(5):
            for q in used:
                parse_query(q, idx.analyzer, fields=fields)
        self.facts["parse.us_per_query"] = (time.perf_counter() - t0) / max(1, 5 * len(used)) * 1e6

        kernel_s, rows_in, n_k = 0.0, 0, 0
        for q, mode in self.used_singles:
            if mode == "parse" or n_k == 12:
                continue
            pq = ParsedQuery(terms=idx.analyzer.analyze_query(q), mode=mode)
            if pq.empty:
                continue
            buckets = sorted({pmod_bucket(t, idx.stats["n_buckets"]) for t in pq.terms})
            with self.span("wand.fetch"):
                pdf = idx.postings.filter(F.col("bucket").isin(buckets) & F.col("term").isin(pq.terms)).toPandas()
            df_override = None
            if len(idx.stats.get("epochs", {"0": 0})) > 1:
                per_epoch = pdf.groupby(["field", "term", "epoch"])["df"].first().reset_index()
                agg = per_epoch.groupby(["field", "term"])["df"].sum()
                df_override = {(f, t): int(v) for (f, t), v in agg.items()}
            kernel = make_wand_kernel(pq.terms, idx.stats, TOP_K, mode, df_override, deleted=idx.deleted)
            t0 = time.perf_counter()
            for _, grp in pdf.groupby("chunk"):
                kernel(grp.reset_index(drop=True))
            kernel_s += time.perf_counter() - t0
            rows_in += len(pdf)
            n_k += 1
        self.facts["wand.kernel_ms_per_query"] = kernel_s / max(1, n_k) * 1000.0
        self.facts["wand.rows_in_per_query"] = rows_in / max(1, n_k)

        with self.span("docnums.stage"):
            staged, offsets, _fp = stage_corpus(
                self.base_df.select("doc_id", "path", "content"), os.path.join(self.work, "probe_stage")
            )
        tok_dir = os.path.join(self.work, "probe_tokens")
        with self.span("tokenize.write"):
            tokenize(
                numbered(staged, offsets, sorted(set(FIELDS.values()))), FIELDS, self.cfg.tokenizer,
                positions=self.spec.positions, n_docs_hint=self.spec.n_docs,
            ).write.parquet(tok_dir)
        with self.span("tokenize.count"):
            self.facts["tokenize.rows"] = spark.read.parquet(tok_dir).count()
        self.facts["index.files"] = sum(len(fs) for _, _, fs in os.walk(self.idx_dir))

    # -- driver -----------------------------------------------------------

    def execute(self) -> None:
        self.setup()
        with self.span("check"):
            self.oracle_check()
        self.warmup()
        self.window()
        if self.trace:
            for kind in ("batch", "delete"):  # calls the window may not make
                if not self.lat[kind]:
                    self._slot(kind)
            self.append_probe()
            self.probes()

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        b = self.build
        return {
            "setup_s": (self.setup_s, "s"),
            "index_bytes_per_posting": (b["compressed_bytes"] / b["postings"], "B"),
            # the lower quartile, not the median: CPU steal from other
            # guests slows whole stretches of a run (one-sided), and the
            # quartile still reads the calls it spared
            "search_p25_ms": (percentile(self.lat["search"], 25) * 1000.0, "ms"),
        }

    def ungated(self) -> dict[str, tuple[float, str]]:
        """Window figures kept out of the end-to-end set: on a 4-vCPU VM
        with CPU steal they spread across seeds wider than the largest
        bound a metric may carry (0.25)."""
        lat = self.lat
        out = {"search_p50_ms": (median(lat["search"]) * 1000.0, "ms")}
        if lat["batch"]:
            out["batch_queries_per_s"] = (self.batch_queries / sum(lat["batch"]), "1/s")
        if lat["delete"]:
            out["delete_p50_ms"] = (median(lat["delete"]) * 1000.0, "ms")
        return out
