"""The workloads, driven through the engine's public Python API.

``bulk``   one cold ``build_index`` of the seeded corpus, the topic batch
           through ``search_batch`` and ``wand_search_batch``, then one
           client in a closed loop of ``SearchEngine.search(q, 10)``.
``ingest`` add / update / delete cycles on an index built during set-up,
           each followed by probe queries, then the topic batch over the
           live segments and tombstones, closed by ``compact_index``.

Each workload returns its end-to-end metrics (untraced run) or its
per-layer metrics (traced run); outputs are checked against the oracle
after the timed phase.
"""

from __future__ import annotations

import os
import pickle
import statistics
import subprocess
import sys
import time

from pyspark.sql import functions as F

from search_engine_spark import fixtures
from search_engine_spark import incremental as inc
from search_engine_spark.config import EngineConfig
from search_engine_spark.indexer import (
    IndexPaths,
    _dir_bytes,
    build_index,
    dictionary_core,
    ensure_gen,
    pack_plan,
)
from search_engine_spark.searcher import SearchEngine
from search_engine_spark.session import get_spark
from search_engine_spark.sources.pages import load_pages
from search_engine_spark.wand import wand_search_batch

from . import check, gen, procs
from .tracing import HostPhases, JobCounter, Tracer, vm_hwm_kb

# Index layout sized to a ~1k-doc corpus on 4 cores: one doc shard per
# core, 2 term buckets, one pack job.  The engine default (32 shards x
# 16 buckets, 8 pack jobs) is sized for 10^5+ docs and spends ~30 s in
# fixed per-job cost at this size.
CFG = EngineConfig(n_doc_shards=4, n_term_buckets=2, n_bucket_groups=1)
K = 10                       # top-k of every query (the CLI default)
CORES = 4
WARM_DOCS = 24
BULK_DOCS, BULK_TOPICS, BULK_BATCH_PAIRS, SERVE_MIX = 1200, 200, 3, 400
INGEST_TOPICS, INGEST_BATCH_PAIRS = 40, 2
INGEST_BASE, INGEST_ADD, INGEST_UPDATE, INGEST_DELETE = 400, 40, 40, 20
INGEST_MAX_CYCLES, PROBES, FINAL_PROBES = 3, 2, 2
PROBE_DOCS = 50              # traced run: incremental probe delta size
TRACE_QUERIES = 8            # traced run: queries in the searcher probe
DECODE_ROWS = 4000           # traced run: index rows in the codec probe


class Run:
    """One benchmark run: session, tracer, counters and the operations
    whose outputs are checked once the oracle is ready."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.seed, self.seconds = seed, seconds
        self.work = work
        self.tr = Tracer(trace)
        self.host = HostPhases()
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.problems: list[str] = []
        self.spark = None
        self.jobs: JobCounter | None = None
        self._oracle: subprocess.Popen | None = None

    @property
    def traced(self) -> bool:
        return self.tr.enabled

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op(self) -> int:
        """Count one attempted operation; returns its id for ``fail``."""
        self.attempted += 1
        return self.attempted

    def fail(self, op_id: int, problem: str | None) -> None:
        if problem is not None:
            self.failed_ops.add(op_id)
            self.problems.append(problem)

    def start(self, oracle_spec: dict) -> None:
        """Start the oracle in a child process, then the Spark session."""
        procs.become_subreaper()
        with open(self.path("oracle-spec.pkl"), "wb") as fh:
            pickle.dump(oracle_spec, fh)
        self._oracle = subprocess.Popen(
            [sys.executable, "-m", "perfbench.check", self.path("oracle-spec.pkl"),
             self.path("oracle.pkl")], cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with self.tr.span("session.get_spark"):
            self.spark = get_spark(
                app="perfbench", master=f"local[{CORES}]",
                extra={"spark.driver.extraJavaOptions":
                       f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
        self.jobs = JobCounter(self.spark)

    def oracle(self) -> dict:
        code = self._oracle.wait()
        if code != 0:
            raise RuntimeError(f"oracle process exited with {code}")
        with open(self.path("oracle.pkl"), "rb") as fh:
            return pickle.load(fh)

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (vm_hwm_kb() + vm_hwm_kb(jvm)) / 1024.0

    def stop(self) -> None:
        """Stop the oracle process and the session, then wait until every
        process the run started (the JVM, the PySpark daemon and its
        workers) has ended."""
        started = procs.descendants()
        if self._oracle is not None and self._oracle.poll() is None:
            self._oracle.kill()
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            proc = getattr(gateway, "proc", None)
            try:
                self.spark.stop()
                gateway.shutdown()
            except Exception as e:   # a call cut off by a signal breaks the gateway
                print(f"perfbench: session stop failed: {e!r}", file=sys.stderr)
            finally:
                if proc is not None:
                    proc.stdin.close()   # the gateway JVM exits on stdin EOF
                self.spark = None
        procs.wait_ended(started | procs.descendants())

    # -- engine calls shared by the workloads --------------------------------
    def build(self, pages_path: str, out: str) -> float:
        with self.tr.span("indexer.build_index"):
            t0 = time.perf_counter()
            with self.tr.span("sources.load_pages"):
                pages = load_pages(self.spark, pages_path)
            build_index(self.spark, pages, out, CFG, resume=False)
            return time.perf_counter() - t0

    def engine(self, index_dir: str) -> SearchEngine:
        with self.tr.span("searcher.open"):
            return SearchEngine(self.spark, index_dir, CFG)

    def search(self, eng: SearchEngine, q: str, traced: bool) -> tuple[list, float]:
        """One query, collected.  Traced: the parse / resolve / plan /
        collect split, with the Spark jobs and tasks of the query."""
        t0 = time.perf_counter()
        if not traced:
            rows = eng.search(q, K).collect()
            return [(r["url"], r["score"]) for r in rows], time.perf_counter() - t0
        counts: dict = {}
        with self.tr.span("bench.query") as rec:
            with self.tr.span("searcher.parse_query"):
                keys = eng.parse_query(q)
            with self.tr.span("searcher.resolve_terms"):
                resolved = eng.resolve_terms(keys)
            with self.jobs.group(counts):
                with self.tr.span("searcher.search"):
                    df = eng.search(q, K)
                with self.tr.span("searcher.exec"):
                    rows = df.collect()
        rec.update(jobs=counts["jobs"], tasks=counts["tasks"], results=len(rows),
                   keys=sorted(resolved["term_key"]))
        return [(r["url"], r["score"]) for r in rows], time.perf_counter() - t0

    def warm_up(self) -> None:
        """JVM, codegen and the Arrow UDF path, before any clock starts."""
        with self.tr.span("bench.warm_up"):
            src = gen.write_corpus(self.path("warm.parquet"), WARM_DOCS, self.seed + 1)
            out = self.path("warm-index")
            self.build(src, out)
            self.warm_queries(self.engine(out), BULK_TOPICS)

    def warm_queries(self, eng: SearchEngine, n_topics: int) -> None:
        """The first-call costs of the query path and of the batch paths
        at the timed batch's size (topics of another seed)."""
        with self.tr.span("bench.warm_queries"):
            eng.search("world trade", K).collect()
            tps = gen.topics(self.seed + 2, n_topics)
            eng.search_batch(tps, K).collect()
            wand_search_batch(eng, tps, K).collect()


def _text_bytes(pages: list[dict]) -> int:
    return sum(len(p["text"].encode("utf-8")) for p in pages)


def _pctl(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1] if len(xs) > 1 else xs[0]


def _tag(what: str, problem: str | None) -> str | None:
    return None if problem is None else f"{what}: {problem}"


def batch_pair(r: Run, eng: SearchEngine, tps: list[tuple[str, str]]) -> dict:
    """The topic batch through ``search_batch`` then ``wand_search_batch``;
    WAND must return exactly what the exhaustive batch returns."""
    with r.tr.span("searcher.search_batch"):
        t = time.perf_counter()
        got_b = check.by_qid(eng.search_batch(tps, K).collect())
        t_batch = time.perf_counter() - t
    op_b = r.op()
    with r.tr.span("wand.wand_search_batch"):
        t = time.perf_counter()
        got_w = check.by_qid(wand_search_batch(eng, tps, K).collect())
        t_wand = time.perf_counter() - t
    op_w = r.op()
    for qid, _ in tps:
        r.fail(op_w, _tag(qid, check.same_ranking(got_w.get(qid, []), got_b.get(qid, []))))
    return {"op": op_b, "got": got_b, "batch_qps": len(tps) / t_batch,
            "wand_batch_qps": len(tps) / t_wand}


def serve_loop(r: Run, eng: SearchEngine, mix: list[str], seconds: float) -> dict:
    """One client, closed loop: each query is collected before the next
    is sent.  Traced runs alternate untraced and traced queries."""
    done, lat, lat_traced = [], [], []
    t0 = time.perf_counter()
    i = 0
    while (time.perf_counter() - t0 < seconds or len(lat) < 3) and i < len(mix):
        traced = r.traced and i % 2 == 1
        got, dt = r.search(eng, mix[i], traced)
        (lat_traced if traced else lat).append(dt)
        done.append((r.op(), mix[i], got))
        i += 1
    return {"done": done, "lat": lat, "lat_traced": lat_traced}


# -- bulk ---------------------------------------------------------------------
def bulk(r: Run) -> tuple[dict, dict]:
    tps = gen.topics(r.seed, BULK_TOPICS)
    mix = gen.query_mix(r.seed + 1, SERVE_MIX)
    t_setup = time.perf_counter()
    r.start({"kind": "corpus", "seed": r.seed, "n_docs": BULK_DOCS, "k": K,
             "queries": [q for _, q in tps] + mix})
    r.warm_up()
    src = gen.write_corpus(r.path("pages.parquet"), BULK_DOCS, r.seed)
    want = r.oracle()["final"]
    setup_s = time.perf_counter() - t_setup

    out = r.path("index")
    r.host.begin("timed")
    build_s = r.build(src, out)
    r.op()
    eng = r.engine(out)
    pairs = [batch_pair(r, eng, tps) for _ in range(BULK_BATCH_PAIRS)]
    loop = serve_loop(r, eng, mix, r.seconds)
    r.host.end("timed")

    for pair in pairs:
        for qid, q in tps:
            r.fail(pair["op"], _tag(qid, check.topk_mismatch(pair["got"].get(qid, []),
                                                            want[q], K)))
    for op_id, q, got in loop["done"]:
        r.fail(op_id, _tag(q, check.topk_mismatch(got, want[q], K)))
    pages = fixtures.make_pages(BULK_DOCS, r.seed)
    lat = loop["lat"]
    batch_qps = statistics.median(p["batch_qps"] for p in pairs)
    wand_qps = statistics.median(p["wand_batch_qps"] for p in pairs)
    summary = {"build_docs_per_s": BULK_DOCS / build_s,
               "batch_qps": batch_qps, "wand_batch_qps": wand_qps,
               "query_p50_ms": 1000 * statistics.median(lat),
               "query_p90_ms": 1000 * _pctl(lat, 90), "query_samples": len(lat)}
    e2e = {"setup_s": setup_s,
           "docs_per_s": BULK_DOCS / build_s,
           "batch_qps": batch_qps,
           "query_ms": 1000.0 * statistics.median(lat),
           "index_bytes_per_text_byte": _dir_bytes(out) / _text_bytes(pages)}
    if r.traced:
        e2e = layer_probes(r, out, src, pages, mix, untraced=lat,
                           traced=loop["lat_traced"])
    return e2e, summary


# -- ingest -------------------------------------------------------------------
def ingest(r: Run) -> tuple[dict, dict]:
    plan = gen.ingest_plan(r.seed, INGEST_BASE, INGEST_MAX_CYCLES, INGEST_ADD,
                           INGEST_UPDATE, INGEST_DELETE)
    mix = gen.query_mix(r.seed, 3 * PROBES * INGEST_MAX_CYCLES + FINAL_PROBES)
    probes = [mix[j * PROBES:(j + 1) * PROBES] for j in range(3 * INGEST_MAX_CYCLES)]
    final_probes = mix[-FINAL_PROBES:]
    tps = gen.topics(r.seed + 1, INGEST_TOPICS)
    t_setup = time.perf_counter()
    r.start({"kind": "ingest", "seed": r.seed, "k": K, "cycles": 1,
             "plan": (INGEST_BASE, INGEST_MAX_CYCLES, INGEST_ADD, INGEST_UPDATE,
                      INGEST_DELETE),
             "add_probes": probes[0], "final_probes": final_probes})
    src = gen.write_pages(plan.base, r.path("base.parquet"))
    adds = [gen.write_pages(p, r.path(f"add{c}.parquet")) for c, p in enumerate(plan.adds)]
    upds = [gen.write_pages(p, r.path(f"upd{c}.parquet")) for c, p in enumerate(plan.updates)]
    want = r.oracle()
    out = r.path("index")
    build_s = r.build(src, out)      # the first build in the process: also the warm-up
    r.warm_queries(r.engine(out), INGEST_TOPICS)
    setup_s = time.perf_counter() - t_setup

    deleted: set[str] = set()
    fresh_lat: list[float] = []
    t_write = {"add": 0.0, "update": 0.0, "delete": 0.0, "compact": 0.0}
    written = 0
    grew = []                   # (index bytes added, delta text bytes) per add/update

    def mutate(kind: str, call, n_docs: int = 0, delta_bytes: int = 0) -> None:
        nonlocal written
        before = _dir_bytes(out) if n_docs else 0
        with r.tr.span(f"incremental.{kind}_documents" if kind != "compact"
                       else "incremental.compact_index"):
            t = time.perf_counter()
            call()
            t_write[kind] += time.perf_counter() - t
        r.op()
        written += n_docs
        if n_docs:
            grew.append((_dir_bytes(out) - before, delta_bytes))

    def check_live(op_id: int, what: str, got: list) -> None:
        urls = [u for u, _ in got]
        if len(set(urls)) != len(urls):
            r.fail(op_id, f"{what}: a url returned twice")
        if deleted & set(urls):
            r.fail(op_id, f"{what}: deleted url returned {sorted(deleted & set(urls))[:2]}")

    def probe(queries: list[str], exact: dict | None) -> None:
        eng = r.engine(out)
        for q in queries:
            got, dt = r.search(eng, q, traced=r.traced)
            fresh_lat.append(dt)
            op_id = r.op()
            check_live(op_id, q, got)
            if exact is not None:
                r.fail(op_id, _tag(q, check.topk_mismatch(got, exact[q], K)))

    r.host.begin("timed")
    t0 = time.perf_counter()
    cycles = 0
    while cycles == 0 or (time.perf_counter() - t0 < r.seconds
                          and cycles < INGEST_MAX_CYCLES):
        c = cycles
        mutate("add", lambda: inc.add_documents(
            r.spark, load_pages(r.spark, adds[c]), out, CFG),
            INGEST_ADD, _text_bytes(plan.adds[c]))
        probe(probes[3 * c], want["first_add"] if c == 0 else None)
        mutate("update", lambda: inc.update_documents(
            r.spark, load_pages(r.spark, upds[c]), out, CFG),
            INGEST_UPDATE, _text_bytes(plan.updates[c]))
        probe(probes[3 * c + 1], None)
        mutate("delete", lambda: inc.delete_documents(r.spark, plan.deletes[c], out))
        deleted.update(plan.deletes[c])
        probe(probes[3 * c + 2], None)
        cycles += 1
    n_fresh = len(fresh_lat)
    # the batch paths over live segments and tombstones
    eng = r.engine(out)
    pairs = [batch_pair(r, eng, tps) for _ in range(INGEST_BATCH_PAIRS)]
    for pair in pairs:
        for qid, _ in tps:
            check_live(pair["op"], qid, pair["got"].get(qid, []))
    segments = inc.live_segments(IndexPaths(out))
    mutate("compact", lambda: inc.compact_index(r.spark, out, CFG))
    final = want["final"] if cycles == 1 else check.expected(
        gen.live_corpus(plan, cycles), final_probes, K)
    deleted.clear()             # purged: the final check is the exact one
    probe(final_probes, final)
    r.host.end("timed")

    live = gen.live_corpus(plan, cycles)
    batch_qps = statistics.median(p["batch_qps"] for p in pairs)
    wand_qps = statistics.median(p["wand_batch_qps"] for p in pairs)
    fresh_p50 = 1000 * statistics.median(fresh_lat[:n_fresh])
    summary = {"ingest_docs_per_s": written / (t_write["add"] + t_write["update"]),
               "fresh_query_p50_ms": fresh_p50, "fresh_query_samples": n_fresh,
               "compact_s": t_write["compact"], "cycles": cycles,
               "live_segments": segments, "setup_build_docs_per_s": INGEST_BASE / build_s,
               "batch_qps": batch_qps, "wand_batch_qps": wand_qps}
    e2e = {"setup_s": setup_s,
           "docs_per_s": written / sum(t_write.values()),
           "batch_qps": batch_qps,
           "query_ms": fresh_p50,
           "index_bytes_per_text_byte": _dir_bytes(out) / _text_bytes(live)}
    if r.traced:
        e2e = layer_probes(r, out, src, plan.base, mix, incremental_done={
            "segments": segments, "grew": grew})
    return e2e, summary


# -- traced run: per-layer probes -------------------------------------------------
def layer_probes(r: Run, index_dir: str, pages_path: str, pages: list[dict],
                 queries: list[str],
                 untraced: list[float] | None = None, traced: list[float] | None = None,
                 incremental_done: dict | None = None) -> dict:
    """Per-layer metrics of a traced run.  Layers the workload did not
    exercise in its timed phase are timed here on the workload's own
    index and inputs, so every traced run reports every layer."""
    import pyarrow.parquet as pq
    from pyspark.sql import Observation

    from search_engine_spark import codec
    from search_engine_spark.plans.tokenize import tokenize_pages
    from search_engine_spark.textproc import parse_doc

    spark, tr, m = r.spark, r.tr, {}
    paths = IndexPaths(index_dir)

    # textproc: the per-document parse kernel, driver-side
    sample = pages[:200]
    stop = CFG.stop_set()
    with tr.span("textproc.parse_doc"):
        t = time.perf_counter()
        for p in sample:
            parse_doc(p["text"], stop, CFG.stem)
        m["textproc.parse_doc.us_per_doc"] = 1e6 * (time.perf_counter() - t) / len(sample)

    # plans.tokenize: the build's flatMap into a no-op sink
    obs = Observation("tokenize")
    with tr.span("plans.tokenize.tokenize_pages"):
        t = time.perf_counter()
        (tokenize_pages(load_pages(spark, pages_path), CFG)
         .observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
        m["plans.tokenize.s"] = time.perf_counter() - t
    m["plans.tokenize.postings"] = obs.get["rows"]

    # indexer: dictionary and pack plans over the built raw postings
    raw = ensure_gen(spark.read.parquet(paths.postings_raw))
    with tr.span("indexer.dictionary_core"):
        t = time.perf_counter()
        dictionary_core(raw).write.format("noop").mode("overwrite").save()
        m["indexer.dictionary_core.s"] = time.perf_counter() - t
    doc_stats = spark.read.parquet(paths.doc_stats)
    avgdl = doc_stats.agg(F.avg("length")).first()[0]
    doc_map = ensure_gen(doc_stats).select("url", "gen", "shard", "local_id", "length")
    obs = Observation("pack")
    with tr.span("indexer.pack_plan"):
        t = time.perf_counter()
        (pack_plan(raw, doc_map, spark.read.parquet(paths.dictionary), CFG, avgdl, False)
         .observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
        m["indexer.pack_plan.s"] = time.perf_counter() - t
    m["indexer.pack_plan.rows"] = obs.get["rows"]
    for part in ("postings_raw", "index", "dictionary", "doc_stats"):
        m[f"indexer.bytes.{part}"] = _dir_bytes(getattr(paths, part))
    warm = {s["id"] for s in tr.spans if s["name"] == "bench.warm_up"}
    m["indexer.build_index.s"] = statistics.median(
        s["end"] - s["start"] for s in tr.spans
        if s["name"] == "indexer.build_index" and s["parent"] not in warm)

    # codec: decode and re-pack the index's posting rows, driver-side
    table = pq.read_table(paths.index, columns=["term_key", "n", "doc_ids", "tfs", "lens",
                                                "imps", "block_last", "block_max"])
    rows = table.slice(0, DECODE_ROWS).to_pylist()
    n_post = sum(x["n"] for x in rows)
    decoded = []
    with tr.span("codec.decode"):
        t = time.perf_counter()
        for x in rows:
            decoded.append((codec.delta_decode(x["doc_ids"]), codec.varint_decode(x["tfs"]),
                            codec.varint_decode(x["lens"]), codec.unpack_bits(x["imps"], x["n"])))
        m["codec.decode.ns_per_posting"] = 1e9 * (time.perf_counter() - t) / n_post
    with tr.span("codec.pack_postings"):
        t = time.perf_counter()
        for ids, tfs, lens, imps in decoded:
            codec.pack_postings(ids, tfs, lens, imps, idf=1.0, k1=CFG.k1, b=CFG.b,
                                avgdl=avgdl, block_size=CFG.block_size)
        m["codec.pack_postings.ns_per_posting"] = 1e9 * (time.perf_counter() - t) / n_post
    m["codec.bytes_per_posting"] = sum(
        len(x[c]) for x in rows
        for c in ("doc_ids", "tfs", "lens", "imps", "block_last", "block_max")) / n_post
    postings_of: dict[str, int] = {}
    for key, n in zip(table.column("term_key").to_pylist(), table.column("n").to_pylist()):
        postings_of[key] = postings_of.get(key, 0) + n

    # searcher: single queries, alternating untraced and traced
    eng = r.engine(index_dir)
    if untraced is None:
        untraced, traced = [], []
        for i, q in enumerate(queries[:TRACE_QUERIES]):
            (traced if i % 2 else untraced).append(r.search(eng, q, traced=bool(i % 2))[1])
    qspans = [s for s in tr.spans if s["name"] == "bench.query"]
    ms = {name: 1000 * statistics.median(tr.durations(name)) for name in
          ("searcher.parse_query", "searcher.resolve_terms", "searcher.search",
           "searcher.exec")}
    m.update({f"{k}.ms": v for k, v in ms.items()})
    scanned = sum(postings_of.get(key, 0) for s in qspans for key in s["keys"])
    m["searcher.postings_scanned"] = scanned / len(qspans)
    m["searcher.results_per_posting"] = sum(s["results"] for s in qspans) / max(1, scanned)
    m["spark.jobs_per_query"] = statistics.mean(s["jobs"] for s in qspans)
    m["spark.tasks_per_query"] = statistics.mean(s["tasks"] for s in qspans)
    m["trace.untraced_query_ms"] = 1000 * statistics.median(untraced)
    m["trace.overhead_ms_per_query"] = 1000 * (statistics.median(traced)
                                               - statistics.median(untraced))

    m["searcher.search_batch.s"] = statistics.median(tr.durations("searcher.search_batch"))
    m["wand.wand_search_batch.s"] = statistics.median(tr.durations("wand.wand_search_batch"))

    # incremental: one small add / update / delete / compact on this index
    if incremental_done is None:
        n0 = len(pages)
        fresh = fixtures.make_pages(n0 + PROBE_DOCS, r.seed)[n0:]
        alt = fixtures.make_pages(PROBE_DOCS, r.seed + 2_000_003)
        upd = [dict(p, text=a["text"], html=fixtures.html_wrapper(a["text"]))
               for p, a in zip(pages[:PROBE_DOCS], alt)]
        dels = [p["url"] for p in pages[PROBE_DOCS:PROBE_DOCS + PROBE_DOCS // 2]]
        add_src = gen.write_pages(fresh, r.path("probe-add.parquet"))
        upd_src = gen.write_pages(upd, r.path("probe-upd.parquet"))
        before = _dir_bytes(index_dir)
        with tr.span("incremental.add_documents"):
            inc.add_documents(spark, load_pages(spark, add_src), index_dir, CFG)
        with tr.span("incremental.update_documents"):
            inc.update_documents(spark, load_pages(spark, upd_src), index_dir, CFG)
        grew = [(_dir_bytes(index_dir) - before, _text_bytes(fresh) + _text_bytes(upd))]
        with tr.span("incremental.delete_documents"):
            inc.delete_documents(spark, dels, index_dir)
        segments = inc.live_segments(paths)
        with tr.span("incremental.compact_index"):
            inc.compact_index(spark, index_dir, CFG)
        incremental_done = {"segments": segments, "grew": grew}
    for call in ("add_documents", "update_documents", "compact_index"):
        m[f"incremental.{call}.s"] = statistics.median(tr.durations(f"incremental.{call}"))
    m["incremental.delete_documents.ms"] = 1000 * statistics.median(
        tr.durations("incremental.delete_documents"))
    m["incremental.live_segments"] = incremental_done["segments"]
    m["incremental.bytes_written_per_delta_byte"] = (
        sum(g for g, _ in incremental_done["grew"]) / sum(d for _, d in incremental_done["grew"]))

    timed = r.host.phases["timed"]
    m["host.steal_pct"] = timed["steal_pct"]
    m["host.cpu_busy_frac"] = timed["cpu_busy_frac"]
    return m


WORKLOADS = {"bulk": bulk, "ingest": ingest}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    r = Run(seed, seconds, trace, work)
    r.host.begin("run")
    try:
        with r.tr.span("bench.run"):
            metrics, summary = WORKLOADS[workload](r)
        if trace:
            for layer, s in r.tr.self_times().items():
                metrics[f"self.{layer}.s"] = s
            metrics["trace.spans"] = len(r.tr.spans)
        else:
            metrics["peak_rss_mb"] = r.peak_rss_mb()
    finally:
        r.stop()
    r.host.end("run")
    if trace:
        r.tr.write(r.path("spans.json"))
    return {"metrics": metrics, "summary": summary, "host": r.host.phases,
            "attempted": r.attempted, "failed": len(r.failed_ops),
            "problems": r.problems, "spans": r.path("spans.json") if trace else None}
