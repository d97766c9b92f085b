"""The benchmark's pipeline and its correctness checks.

Every workload runs the same pipeline on its own corpus profile
(`gen.PROFILES`): one closed loop with a single client: each operation
starts only after the previous one returned, and no query is timed while a
Spark job runs.  Inputs come from `gen` (seeded); expected outputs come
from `oracle` and from counts over the generated input, never from the
engine.
"""

from __future__ import annotations

import gc
import json
import math
import os
import resource
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle

K = 10
MIX_PER50 = 4             # the query mix: 200 queries, 10 beyond its p95
# Every run makes the same operations on the same inputs, however fast the
# program is: fixed counts, no deadlines.
N_JOBS = 3                # timed topk_many jobs
WARM_SLICE = 8            # the warm-up backfill indexes 1 url in 8

# tables whose bytes count as "the index" in index_bytes_per_text_byte
INDEX_TABLES = ("postings", "term_dict", "doc_lens", "stats")
CATALOG_BYTES = ("postings", "term_dict", "doc_lens", "docs", "doc_ids")

UNITS = {   # end-to-end metrics, the same on every workload
    "setup_s": "s", "index_bytes_per_text_byte": "B/B", "search_p95_ms": "ms",
}

# per-layer metrics of a traced run, the same on every workload
LAYERS = (
    "session.start_s", "session.peak_rss_mb", "input.generate_s",
    "api.backfill_s", "build.doc_lens_s", "build.blocks_s",
    "build.term_dict_s", "build.postings_s", "build.manifest_s",
    "build.outside_stages_s", "analysis.tokens_per_s",
    "codec.encode_postings_per_s", "codec.decode_postings_per_s",
    "codec.bytes_per_posting", "catalog.postings_bytes",
    "catalog.term_dict_bytes", "catalog.doc_lens_bytes", "catalog.docs_bytes",
    "catalog.doc_ids_bytes", "catalog.files", "reader.plan_ms", "reader.term_hot_p50_ms", "reader.term_rare_p50_ms",
    "reader.or_multi_p50_ms", "reader.and_multi_p50_ms",
    "reader.must_not_p50_ms", "reader.prefix_p50_ms", "reader.fuzzy_p50_ms",
    "reader.query_postings_bytes", "wand.batch_s",
)

BUILD_STAGES = {
    "doc_lens": "build.doc_lens_s", "blocks_batch_0": "build.blocks_s",
    "term_dict": "build.term_dict_s", "postings_batch_0": "build.postings_s",
    "postings": "build.postings_s", "manifest": "build.manifest_s",
}


def p95(values: list[float]) -> float:
    """Nearest-rank 95th percentile."""
    s = sorted(values)
    return s[math.ceil(0.95 * len(s)) - 1]


class Run:
    """One workload run: session, tracer, counts and check failures."""

    def __init__(self, workload: str, seed: int, tracer, run_dir: str,
                 t_start: float) -> None:
        self.workload, self.seed = workload, seed
        self.tracer, self.run_dir, self.t_start = tracer, run_dir, t_start
        self.profile = gen.PROFILES[workload]
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.t0 = None          # start of the timed phase
        self.spark = None

    # -- bookkeeping ---------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)
            print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f}s {msg}",
              file=sys.stderr, flush=True)

    def start_timing(self) -> None:
        # collect set-up garbage now, not inside the first timed operations
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        self.t0 = time.perf_counter()
        self.e2e["setup_s"] = self.t0 - self.t_start
        self.log("set-up done, timing starts")

    def op(self, name: str, fn, *args, **attrs):
        """One timed operation: (result, seconds), or (None, None) when
        it raised — counted in `failed`."""
        self.attempted += 1
        self.tracer.new_op()
        t = time.perf_counter()
        try:
            with self.tracer.span(name, **attrs):
                out = fn(*args)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None, None
        return out, time.perf_counter() - t

    # -- session -----------------------------------------------------------------
    def start_session(self):
        from search_ingest_spark.session import get_spark

        with self.tracer.span("session.start"):
            t = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.workload}")
            self.layers["session.start_s"] = time.perf_counter() - t
        self.log("spark session started")
        return self.spark

    def stop_session(self) -> None:
        from search_ingest_spark.query.reader import shutdown_serve_pool

        shutdown_serve_pool()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway  # noqa: SLF001
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the Spark JVM."""
        from pyspark import SparkContext

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    # -- inputs -------------------------------------------------------------------
    def make_corpus(self) -> gen.Corpus:
        with self.tracer.span("input.generate"):
            t = time.perf_counter()
            corpus = gen.make_corpus(self.seed, self.profile)
            path = os.path.join(self.run_dir, "pages.parquet")
            p = corpus.pages
            pq.write_table(pa.table({
                "url": p["url"],
                "warc_ts": pa.array(p["warc_ts"], pa.timestamp("us")),
                "html": pa.nulls(len(p["url"]), pa.binary()),
                "text": p["text"],
            }), path)
            self.layers["input.generate_s"] = time.perf_counter() - t
        self.pages_path = path
        self.log(f"generated {len(corpus.live)} docs")
        return corpus

    # -- engine access -------------------------------------------------------------
    def service(self, name: str):
        from search_ingest_spark.api import SearchIngestService
        from search_ingest_spark.catalog import Catalog

        cat = Catalog(self.spark, os.path.join(self.run_dir, name))
        return SearchIngestService(self.spark, cat)


# ---------------------------------------------------------------------------
# reading the engine's tables (pyarrow, no Spark job)
# ---------------------------------------------------------------------------

def read_mapping(cat) -> dict[str, int]:
    from search_ingest_spark.streaming.incremental import DOC_IDS_TABLE

    t = cat.arrow_dataset(DOC_IDS_TABLE).to_table(columns=["url", "doc_id"])
    return dict(zip(t["url"].to_pylist(), t["doc_id"].to_pylist()))


def table_bytes(cat, name: str) -> int:
    total = 0
    for root, _, files in os.walk(cat.data_path(name)):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def table_files(cat) -> int:
    n = 0
    for name in cat.list_tables():
        for _, _, files in os.walk(cat.data_path(name)):
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def text_bytes(live: dict[str, str]) -> int:
    return sum(len(t.encode("utf-8")) for t in live.values())


def engine_df(cat, terms: list[str]) -> dict[str, int]:
    t = ds.dataset(cat.data_path("term_dict")).to_table(
        columns=["term", "df"], filter=pc.field("term").isin(terms))
    return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))


# ---------------------------------------------------------------------------
# checks against computations made apart from the engine
# ---------------------------------------------------------------------------

def oracle_index(run: Run, cat, live: dict[str, str]):
    """Map the live state onto the engine's doc ids (its url→id table)
    and index it with the oracle.  Checks the mapping is a bijection."""
    mapping = read_mapping(cat)
    run.check(set(mapping) == set(live),
              f"url→id table holds {len(mapping)} urls, live state "
              f"{len(live)} ({len(set(mapping) ^ set(live))} differ)")
    run.check(len(set(mapping.values())) == len(mapping),
              "url→id table assigns one doc id to several urls")
    return oracle.Index({mapping[u]: t for u, t in live.items()
                         if u in mapping}), mapping


def sample_terms(corpus: gen.Corpus, mix: list[gen.Query], seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 4])
    terms = {t for q in mix for t in oracle.query_terms(q.text + " " + q.exclude)}
    terms |= {corpus.words[h] for h in corpus.hot}
    for w in corpus.accented[rng.integers(0, len(corpus.accented), 20)]:
        terms |= set(oracle.terms_of(w))
    terms |= set(corpus.words[rng.integers(0, len(corpus.words), 100)])
    return sorted(terms)


def check_stats(run: Run, cat, idx: oracle.Index, terms: list[str]) -> None:
    from search_ingest_spark.index.build import STATS_TABLE

    st = cat.read_small(STATS_TABLE)[0]
    run.check(int(st["n_docs"]) == idx.n_docs,
              f"stats.n_docs {st['n_docs']} != {idx.n_docs} live docs")
    run.check(int(st["sum_dl"]) == idx.sum_dl,
              f"stats.sum_dl {st['sum_dl']} != {idx.sum_dl} positions")
    got = engine_df(cat, terms)
    bad = [t for t in terms if int(got.get(t, 0)) != idx.doc_freq(t)]
    run.check(not bad, f"df differs for {len(bad)} of {len(terms)} sampled "
                       f"terms, e.g. {[(t, got.get(t, 0), idx.doc_freq(t)) for t in bad[:3]]}")


def engine_query(ls, q: gen.Query, k: int = K):
    if q.shape == "and_multi":
        return ls.topk(q.text, k, match_all=True)
    if q.shape == "must_not":
        return ls.topk(q.text, k, exclude_text=q.exclude)
    if q.shape == "prefix":
        return ls.topk_prefix(q.text, k)
    if q.shape == "fuzzy":
        return ls.topk_fuzzy(q.text, k)
    return ls.topk(q.text, k)


def oracle_query(idx: oracle.Index, q: gen.Query, k: int = K):
    if q.shape == "and_multi":
        return idx.match_all(q.text, k)
    if q.shape == "must_not":
        return idx.must_not(q.text, q.exclude, k)
    if q.shape == "prefix":
        return idx.prefix(q.text, k)
    if q.shape == "fuzzy":
        return idx.fuzzy(q.text, k)
    return idx.match(q.text, k)


def same_topk(got, want) -> bool:
    """Doc ids and ranks exactly, scores to 4 decimals."""
    return (len(got) == len(want)
            and all(g[0] == w[0] and g[2] == r + 1 and abs(g[1] - w[1]) < 5e-5
                    for r, (g, w) in enumerate(zip(got, want))))


def check_responses(run: Run, idx: oracle.Index, mix: list[gen.Query],
                    responses: dict[int, list]) -> None:
    for qi, got in responses.items():
        want = oracle_query(idx, mix[qi])
        run.check(same_topk(got, want), f"{mix[qi].shape} query {mix[qi].text!r}: "
                                        f"engine {got[:3]} != oracle {want[:3]}")


# ---------------------------------------------------------------------------
# per-layer probes (traced run only)
# ---------------------------------------------------------------------------

def trace_analysis(run: Run, texts: list[str]) -> None:
    from search_ingest_spark import analysis

    with run.tracer.span("analysis.analyze", docs=len(texts)):
        t = time.perf_counter()
        n = sum(analysis.analyze(x)[1] for x in texts)
        run.layers["analysis.tokens_per_s"] = n / (time.perf_counter() - t)


def read_postings(cat, term_ids: list[int] | None = None):
    cols = ["term_id", "first_doc_id", "n_docs", "data"]
    filt = None if term_ids is None else pc.field("term_id").isin(term_ids)
    t = ds.dataset(cat.data_path("postings"), partitioning="hive").to_table(
        columns=cols, filter=filt)
    return (t["data"].to_pylist(), t["first_doc_id"].to_numpy(),
            t["n_docs"].to_numpy())


def trace_decode(run: Run, cat, term_ids: list[int]) -> None:
    from search_ingest_spark.index import codec

    datas, firsts, ns = read_postings(cat, term_ids)
    n = int(ns.sum())
    with run.tracer.span("codec.decode", postings=n):
        t = time.perf_counter()
        codec.decode_blocks_bulk(datas, firsts, ns)
        run.layers["codec.decode_postings_per_s"] = n / (time.perf_counter() - t)


def trace_encode(run: Run, cat) -> None:
    """Re-encode every posting of the index, block by block as stored."""
    from search_ingest_spark.index import codec

    datas, firsts, ns = read_postings(cat)
    n = int(ns.sum())
    docs, tfs, dls, offs = codec.decode_blocks_bulk(datas, firsts, ns)
    with run.tracer.span("codec.encode", postings=n):
        t = time.perf_counter()
        codec.encode_blocks_bulk(docs, tfs, dls, offs[:-1], offs[1:])
        run.layers["codec.encode_postings_per_s"] = n / (time.perf_counter() - t)
    run.layers["codec.bytes_per_posting"] = sum(map(len, datas)) / n


def trace_catalog(run: Run, cat) -> None:
    for name in CATALOG_BYTES:
        run.layers[f"catalog.{name}_bytes"] = float(table_bytes(cat, name))
    run.layers["catalog.files"] = float(table_files(cat))


def build_stage_times(state_path: str, t0: float, t1: float) -> dict[str, float]:
    """Stage walls from build_state.json, and the backfill wall outside
    the union of the stage intervals (stages overlap: doc_lens, blocks
    and term_dict run concurrently)."""
    with open(state_path) as fh:
        stages = json.load(fh)["stages"]
    out: dict[str, float] = {}
    spans = []
    for name, meta in stages.items():
        if "wall_ms" not in meta:
            continue
        w = meta["wall_ms"] / 1000.0
        spans.append((max(t0, meta["ts"] - w), min(t1, meta["ts"])))
        if name in BUILD_STAGES:
            out[BUILD_STAGES[name]] = out.get(BUILD_STAGES[name], 0.0) + w
    covered, end = 0.0, t0
    for a, b in sorted(spans):
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    out["build.outside_stages_s"] = (t1 - t0) - covered
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def mix_term_ids(ls, mix: list[gen.Query]) -> list[int]:
    tids: set[int] = set()
    for q in mix:
        if q.shape == "prefix":
            tids |= set(ls.plan_prefix(q.text))
        elif q.shape == "fuzzy":
            tids |= set(ls.plan_fuzzy(q.text))
        else:
            tids |= set(ls.plan(q.text + " " + q.exclude))
    return sorted(tids)


def run_mix(run: Run, ls, mix: list[gen.Query]) -> tuple[list[float], dict[int, list]]:
    """One round of the mix: latencies and responses of the queries that
    did not raise."""
    lat: list[float] = []
    responses: dict[int, list] = {}
    for qi, q in enumerate(mix):
        res, dt = run.op("reader.query", engine_query, ls, q, shape=q.shape)
        if res is not None:
            lat.append(dt)
            responses[qi] = res
    return lat, responses


def trace_reader(run: Run, ls, cat, mix: list[gen.Query]) -> list[int]:
    for shape in gen.QUERY_SHAPES:
        run.layers[f"reader.{shape}_p50_ms"] = 1e3 * run.tracer.median(
            "reader.query", shape=shape)
    plan_s = []
    for q in mix:
        with run.tracer.span("reader.plan"):
            t = time.perf_counter()
            ls.plan(q.text)
            plan_s.append(time.perf_counter() - t)
    run.layers["reader.plan_ms"] = 1e3 * statistics.median(plan_s)
    tids = mix_term_ids(ls, mix)
    run.layers["reader.query_postings_bytes"] = float(
        sum(map(len, read_postings(cat, tids)[0])))
    return tids


def pipeline(run: Run) -> None:
    """One closed loop on the workload's corpus, the same on every workload.

    Set-up: session, inputs, and a warm-up backfill of an eighth of the
    corpus into a throwaway catalog.  Timed: a backfill of the whole corpus
    into an empty catalog; the query mix on the Spark-free reader over it;
    the plain-text queries of the first half of the mix as Spark batch
    jobs.  Then every output is checked against the oracle
    and against counts taken from the generated input."""
    from search_ingest_spark.query.reader import LocalSearcher
    from search_ingest_spark.query.wand import Searcher

    spark = run.start_session()
    corpus = run.make_corpus()
    live = corpus.live
    mix = gen.query_mix(corpus, run.seed, MIX_PER50)
    # batch jobs: the plain-text queries of the first half of the mix
    plain = {qi: q.text for qi, q in enumerate(mix[:len(mix) // 2])
             if q.shape in gen.PLAIN_SHAPES}
    pages = spark.read.parquet(run.pages_path)
    # the first backfill of a session pays JVM code generation and JIT,
    # whatever its size
    run.service("warm").backfill(pages.where(F.xxhash64("url") % WARM_SLICE == 0))
    run.log("warm-up backfill done")
    run.start_timing()

    # ---- backfill ------------------------------------------------------------
    svc = run.service("cat")
    cat = svc.cat
    e0 = time.time()
    info, wall = run.op("api.backfill", svc.backfill, pages)
    if info is None:
        run.check(False, "the backfill raised; nothing to query")
        return
    if run.tracer.enabled:
        run.layers["api.backfill_s"] = wall
        run.layers.update(build_stage_times(
            os.path.join(cat.root, "build_state.json"), e0, e0 + wall))
    run.log("backfill done")

    # ---- queries --------------------------------------------------------------------
    ls = LocalSearcher(cat)
    lat, responses = run_mix(run, ls, mix)
    if lat:
        run.e2e["search_p95_ms"] = 1e3 * p95(lat)
    searcher = Searcher(spark, cat)
    jobs: list[tuple[list, float]] = []
    for _ in range(N_JOBS):
        rows, dt = run.op("wand.topk_many",
                          lambda: searcher.topk_many(plain, K).collect())
        if rows is not None:
            jobs.append((rows, dt))
    run.log(f"timed phase done: {run.attempted} operations")

    # ---- checks (untimed) -------------------------------------------------
    idx, _ = oracle_index(run, cat, live)
    check_stats(run, cat, idx, sample_terms(corpus, mix, run.seed))
    check_responses(run, idx, mix, responses)
    for rows, _ in jobs:
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"], r["rank"]))
        bad = [qi for qi in plain
               if qi in responses and by_q.get(qi, []) != responses[qi]]
        run.check(not bad, f"topk_many differs from LocalSearcher on "
                           f"{len(bad)} of {len(plain)} queries, e.g. "
                           f"{mix[bad[0]].text!r}" if bad else "")
    run.e2e["index_bytes_per_text_byte"] = (
        sum(table_bytes(cat, t) for t in INDEX_TABLES) / text_bytes(live))
    run.log("checks done")
    if run.tracer.enabled:
        trace_analysis(run, list(live.values())[:3000])
        trace_encode(run, cat)
        trace_decode(run, cat, trace_reader(run, ls, cat, mix))
        trace_catalog(run, cat)
        if jobs:
            run.layers["wand.batch_s"] = run.tracer.median("wand.topk_many")

