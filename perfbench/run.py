#!/usr/bin/env python3
"""Search-engine benchmark: one run = one workload, measured from outside
through the engine's public API on seeded inputs.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 8 --trace 0

Phases of every run (README.md has the metric tables):

1. set-up: Spark session, corpus generation, the timed ``build_index`` of
   the workload corpus, the engine's HTTP server over it;
2. serving, driven by loadgen.py in its own process: an untimed cache
   prefetch and closed-loop warm-up (meanwhile this process builds the
   committed fixture corpus, whose top-k must equal
   fixtures/topk_golden.json, runs ``verify_index`` and builds the oracle),
   a closed-loop capacity phase with ``nproc`` clients, an open-loop
   latency phase at the workload's fixed Poisson rate for ``--seconds``;
   sampled answers are checked against ``Bm25Oracle``.

The two workloads differ only in the query log: ``serve-hot`` repeats a few
hundred head terms that stay in the server's posting cache, ``serve-tail``
pairs a head term with a never-repeated long-tail term, so nearly every
lookup misses a cache that is already full and evicting.

The last stdout line is the JSON result. ``--trace 1`` also runs in-process
probes with spans around engine calls and the near-real-time ingest cycle,
and prints per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

WORKLOADS = ("serve-hot", "serve-tail")

# Workload sizes. The serving corpus vocabulary (24k ranks, ~22k present
# terms) is over 4x SearchEngine.CACHE_MAX_TERMS (4096).
CORPUS_DOCS = 3000
CORPUS_VOCAB = 24_000
DUP_SHARE = 0.10
HOT_HEAD_TERMS = 300
HOT_POOL = 1000
TAIL_HEAD_TERMS = 30
TAIL_WARM_TERMS = 4800          # fetched before timing: the LRU is full
TAIL_WARM_QUERY_TERMS = 800     # terms per warm-up query (one fetch job each)
NRT_BASE_DOCS = 300
NRT_BATCH_DOCS = 100
NRT_BATCHES = 1
NRT_VOCAB = 2000
NRT_PROBES = 1                  # federated probe queries per batch
CAPACITY_S = 5.0
# closed-loop serving warm-up: the miss path runs a Spark job per query and
# keeps getting faster for tens of seconds; the hot path is pure Python
WARM_S = {"serve-hot": 4.0, "serve-tail": 10.0}
# Open-loop offered rate per workload, set below the capacity measured on
# the seed machine (4 cores): see README.md.
OFFERED_QPS = {"serve-hot": 120.0, "serve-tail": 10.0}
ORACLE_SAMPLE = 40
TRACE_PROBES = 40


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Spark driver heap: a sixth of physical memory, 1-4 GiB (the
    engine's own default of 48g does not fit small boxes)."""
    with open("/proc/meminfo") as f:
        kib = int(f.readline().split()[1])
    return f"{max(1, min(4, kib // (6 * 1024 * 1024)))}g"


def pin_environment(work: str) -> dict:
    """Pin what the engine reads from the environment, before any JVM
    starts; every scratch path lives inside the run's work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Spark's Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(env)
    return env


def du(*paths: str) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for d, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def write_parquet(frame, path: str) -> None:
    """Land a corpus file atomically: Spark's file source skips names
    starting with '.', so the rename is the moment the file lands."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), tmp)
    os.replace(tmp, path)


def median(xs):
    return statistics.median(xs)


class JobCounter:
    """Spark jobs launched by one call, from the public status tracker:
    the call runs under its own job group."""

    def __init__(self, sc):
        self.sc = sc
        self.n = 0

    def __call__(self, fn, *args, **kwargs):
        """(result, jobs launched, seconds spent in ``fn``)."""
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, group)
        try:
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            secs = time.perf_counter() - t
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
        return out, len(self.sc.statusTracker().getJobIdsForGroup(group)), secs


class Server:
    """The engine's HTTP server (``engine.server.make_server`` over a
    ``SearchService``, as ``python -m engine.cli serve`` runs it) on a
    thread of this process, which holds the Spark session. The load
    generator runs as a separate process, so it shares no interpreter
    lock with the server."""

    def __init__(self, spark, index_dir: str):
        import threading

        from engine.server import SearchService, make_server
        self.service = SearchService(spark, index_dir)
        self.httpd = make_server(self.service, "127.0.0.1", 0)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       daemon=True)
        self.thread.start()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(30)
        self.service.close()


def load(spec: dict, work: str) -> list[dict]:
    """Run perfbench/loadgen.py on ``spec`` in its own process."""
    path = os.path.join(work, "loadgen.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "loadgen.py"), path],
        cwd=work, capture_output=True, check=True, timeout=150)
    return json.loads(out.stdout.splitlines()[-1])


class Run:
    def __init__(self, args, work: str):
        from perfbench.trace import Tracer
        self.args = args
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.phases: list = []          # loadgen.Phase accounting rows
        self.bad: list[str] = []
        self.notes: list[str] = []
        self.walls: list[str] = []
        self.server = None

    def lap(self, label: str, since: float) -> float:
        """Record a phase's wall time for the run log; return now."""
        now = time.perf_counter()
        self.walls.append(f"{label} {now - since:.1f}s")
        return now

    # ------------------------------------------------------------ set-up

    def setup(self):
        """Everything before the first timed query. setup_s is what a user
        pays: Spark session, corpus, build, and the server's start-up."""
        from engine.index_build import build_index
        from engine.query import SearchEngine
        from engine.session import get_spark
        from perfbench import gen

        t = time.perf_counter()
        self.spark = get_spark(master=f"local[{cpu_count()}]",
                               app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext)
        session_s = time.perf_counter() - t

        t = time.perf_counter()
        self.corpus = gen.make_corpus(self.args.seed, CORPUS_DOCS,
                                      CORPUS_VOCAB, dup_share=DUP_SHARE)
        src = os.path.join(self.work, "corpus")
        os.makedirs(src)
        write_parquet(self.corpus.frame, os.path.join(src, "part-0.parquet"))
        corpus_s = time.perf_counter() - t
        present = int((self.corpus.term_docs > 0).sum())
        if present < 4 * SearchEngine.CACHE_MAX_TERMS:
            raise RuntimeError(f"corpus has {present} terms, under 4x the "
                               "posting-cache budget")
        lap = self.lap("session+corpus", t - session_s)

        self.index = os.path.join(self.work, "index")
        source = self.spark.read.parquet(src)
        with self.tracer.span("index_build.build_index", request="build"):
            man, build_jobs, build_s = self.jobs(
                build_index, self.spark, source, self.index, resume=False)
        self.manifest = man.metrics()
        lap = self.lap("build", lap)

        t = time.perf_counter()
        self.server = Server(self.spark, self.index)
        ready_s = time.perf_counter() - t
        lap = self.lap("server", lap)

        n_rows = len(self.corpus.frame)
        self.e2e["setup_s"] = (session_s + corpus_s + build_s + ready_s, "s")
        self.e2e["build_docs_per_s"] = (n_rows / build_s, "docs/s")
        self.e2e["index_bytes_per_source_byte"] = (
            du(self.index) / self.corpus.content_bytes, "B/B")
        for s in ("docs_raw", "aliases", "docs", "index", "_lineage"):
            self.layer[f"index_build.{s.lstrip('_')}_s"] = (
                self.manifest[s]["wall_s"], "s")
        self.layer["index_build.spark_jobs"] = (build_jobs, "count")
        im = self.manifest["index"]["metrics"]
        self.layer["codec.bytes_per_posting"] = (
            im["bytes_compressed"] / im["postings_emitted"], "B")
        n_docs = self.manifest["docs"]["rows"]
        self.layer["checkpoint.snapshot_bytes_per_doc"] = (
            du(*(os.path.join(self.index, s) for s in
                 ("docs_raw", "aliases", "docs", "_lineage"))) / n_docs, "B")
        self.notes.append(
            f"setup: session {session_s:.2f}s corpus {corpus_s:.2f}s "
            f"build {build_s:.2f}s server ready {ready_s:.2f}s; {n_rows} "
            f"rows, {n_docs} canonical docs, {present} terms, "
            f"{self.corpus.dup_rows} duplicate-content rows")

    # ----------------------------------------------------------- serving

    def query_plan(self):
        """(warm-up queries, timed query log, in-process probe queries)."""
        from perfbench import gen
        seed, c = self.args.seed, self.corpus
        if self.args.workload == "serve-hot":
            log = gen.hot_log(seed, c, 20_000, head_terms=HOT_HEAD_TERMS,
                              pool=HOT_POOL)
            pool = sorted(set(log))
            # one request fetches every head term, then each pool query once
            head = sorted({t for q in pool for t in q.split()})
            return [" ".join(head)] + pool, log, log[-TRACE_PROBES:]
        tail = gen.tail_terms(seed, c, skip_head=HOT_HEAD_TERMS)
        warm_terms = c.vocab[:TAIL_HEAD_TERMS].tolist() + \
            tail[:TAIL_WARM_TERMS]
        n = TAIL_WARM_QUERY_TERMS
        warm = [" ".join(warm_terms[i:i + n])
                for i in range(0, len(warm_terms), n)]
        log = gen.tail_log(seed, c, tail[TAIL_WARM_TERMS:],
                           head_terms=TAIL_HEAD_TERMS)
        # probes come from the far end of the log: never sent over HTTP
        return warm, log[:-TRACE_PROBES], log[-TRACE_PROBES:]

    def serve(self):
        """Untimed: the cache prefetch and a closed-loop warm-up, while this
        process runs the pilot build of the committed fixture corpus (the
        golden rank-identity gate) and ``verify_index``, and builds the
        oracle. Then timed: the capacity and the open-loop latency
        phases."""
        from concurrent.futures import ThreadPoolExecutor

        from engine.oracle import Bm25Oracle
        from perfbench import checks
        from perfbench.loadgen import Phase, per_second_rate, windowed_tail
        prefetch, log, _probes = self.query_plan()
        spec = {"port": self.server.port, "clients": cpu_count(),
                "prefetch": prefetch, "log": log,
                "warm_s": WARM_S[self.args.workload],
                "capacity_s": 0, "seconds": 0,
                "rate": OFFERED_QPS[self.args.workload],
                "seed": self.args.seed, "keep_answers": 0}
        t = time.perf_counter()
        with ThreadPoolExecutor(2) as pool:
            golden = pool.submit(self._golden_and_verify)
            oracle = pool.submit(Bm25Oracle, self.corpus.canonical())
            warm = [Phase(**p) for p in load(spec, self.work)]
            self.bad += golden.result()
            oracle = oracle.result()
        t = self.lap("warm-up+checks", t)
        # everything alive now (the loaded index, the oracle's millions of
        # small objects, the corpus and logs) leaves the collector's view,
        # so a full collection during the timed phases scans only what
        # serving allocates
        gc.collect()
        gc.freeze()
        self.phases += warm
        used = sum(p.attempted for p in warm if p.name != "serve.prefetch")
        spec.update(prefetch=[], log=log[used:], warm_s=0,
                    capacity_s=CAPACITY_S, seconds=self.args.seconds,
                    keep_answers=ORACLE_SAMPLE // 2)
        cap, lat = (Phase(**p) for p in load(spec, self.work))
        t = self.lap("capacity+latency", t)
        self.phases += [cap, lat]
        pct, tail, windows = windowed_tail(lat.latencies_ms)
        self.http_p50_ms = median(lat.latencies_ms)
        self.e2e["search_p50_ms"] = (self.http_p50_ms, "ms")
        self.e2e["search_capacity_qps"] = (
            per_second_rate(cap.done_s, cap.good, CAPACITY_S), "1/s")
        # the tail is a per-layer figure: on serve-hot (a ~4 ms p95) its
        # spread over ten seeds on a 4-core box was 46 % of its median,
        # wider than any bound an end-to-end metric may take
        self.layer["loadgen.tail_ms"] = (tail, "ms")
        self.layer["loadgen.late_ms"] = (statistics.fmean(lat.late_ms), "ms")
        self.notes.append(
            f"serve: capacity {cap.ok}/{cap.attempted} ok in "
            f"{cap.elapsed_s:.2f}s; latency phase {lat.attempted} requests "
            f"at {OFFERED_QPS[self.args.workload]} qps offered; tail = "
            f"median over {windows} window(s) of p{pct:.1f}, "
            f"{len(lat.latencies_ms)} samples")
        self.bad += checks.payloads(oracle, self.corpus.url_to_doc(),
                                    cap.answers + lat.answers)

    def _golden_and_verify(self) -> list[str]:
        from perfbench import checks
        bad = checks.golden(self.spark, ROOT, os.path.join(self.work, "pilot"))
        return bad + checks.verify(self.spark, self.index)

    def trace_query_layers(self):
        """On the server's own service, after the load: time search_payload
        with SearchEngine.search as its child span, the query's immediate
        repeat (a cache hit) and the Spark jobs each call launched. Tail
        probes are fresh tail queries, so their first call misses."""
        _warm, _log, probes = self.query_plan()
        svc = self.server.service
        eng = svc.engine
        plain_search = eng.search
        eng.search = self.tracer.wrap("query.search", plain_search)
        payload = self.tracer.wrap("server.search_payload", svc.search_payload)
        payload_ms, fetch_ms, jobs = [], [], []
        try:
            for q in probes:
                _body, n, secs = self.jobs(payload, q)
                payload_ms.append(secs * 1000.0)
                first = self.tracer.spans[-2]      # the query.search child
                t = time.perf_counter()
                plain_search(q)
                repeat = time.perf_counter() - t
                fetch_ms.append(
                    (first["end"] - first["start"] - repeat) * 1000.0)
                jobs.append(n)
        finally:
            eng.search = plain_search
        search_ms = [d * 1000.0 for d in self.tracer.durations("query.search")]
        self.layer["query.search_ms"] = (median(search_ms), "ms")
        self.layer["query.fetch_ms"] = (median(fetch_ms), "ms")
        self.layer["query.miss_share"] = (
            sum(1 for n in jobs if n) / len(jobs), "share")
        self.layer["query.spark_jobs_per_query"] = (
            statistics.fmean(jobs), "count")
        self.layer["server.payload_ms"] = (
            median(p - s for p, s in zip(payload_ms, search_ms)), "ms")
        self.layer["server.http_ms"] = (
            self.http_p50_ms - median(payload_ms), "ms")

    def trace_codec_tokenizer(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from engine.codec import decode_postings
        from engine.tokenizer import tokenize_arrow
        texts = pa.array(self.corpus.frame["content"].tolist())
        with self.tracer.span("tokenizer.tokenize_arrow", request="tokenize"):
            t = time.perf_counter()
            toks = tokenize_arrow(texts)
            tok_s = time.perf_counter() - t
        self.layer["tokenizer.tokens_per_s"] = (
            len(toks.flatten()) / tok_s, "1/s")
        blobs = pq.read_table(os.path.join(self.index, "index"),
                              columns=["postings"]).column(0).to_pylist()
        with self.tracer.span("codec.decode_postings", request="decode"):
            t = time.perf_counter()
            for b in blobs:
                decode_postings(b)
            dec_s = time.perf_counter() - t
        self.tracer.count("codec.blobs_decoded", len(blobs))
        self.layer["codec.decode_mb_per_s"] = (
            sum(map(len, blobs)) / dec_s / 1e6, "MB/s")

    # ---------------------------------------------------------------- NRT

    def _nrt_ingest(self) -> float:
        from engine.corpus import corpus_spark_schema
        from engine.streaming import start_ingest
        t = time.perf_counter()
        with self.tracer.span("streaming.start_ingest"):
            for q in start_ingest(self.spark, self.nrt_src, self.nrt_work,
                                  corpus_spark_schema()):
                q.awaitTermination(120)
        secs = time.perf_counter() - t
        self.nrt_phase["ingest"].record("ingest", secs * 1e3, [])
        return secs

    def _nrt_compact(self) -> float:
        from engine.streaming import compact_incremental
        t = time.perf_counter()
        with self.tracer.span("streaming.compact_incremental"):
            compact_incremental(self.spark, self.nrt_work, self.nrt_out,
                                partitions=4)
        secs = time.perf_counter() - t
        self.nrt_phase["compact"].record("compact", secs * 1e3, [])
        return secs

    def nrt_base(self):
        """Land, ingest and compact the base of the NRT corpus."""
        from perfbench import gen
        from perfbench.loadgen import Phase
        root = os.path.join(self.work, "nrt")
        self.nrt_src, self.nrt_work, self.nrt_out = (
            os.path.join(root, d) for d in ("src", "work", "out"))
        os.makedirs(self.nrt_src)
        # no duplicate content: the federated view serves a copy that lands
        # in a later batch than its original as a distinct doc until the
        # next compaction (by design), which the oracle does not model
        self.nrt_corpus = gen.make_corpus(
            self.args.seed + 7, NRT_BASE_DOCS + NRT_BATCHES * NRT_BATCH_DOCS,
            NRT_VOCAB, repo_prefix="nrt")
        self.nrt_phase = {n: Phase(f"nrt.{n}") for n in
                          ("ingest", "view", "probe", "compact")}
        write_parquet(self.nrt_corpus.frame.iloc[:NRT_BASE_DOCS],
                      os.path.join(self.nrt_src, "base.parquet"))
        self._nrt_ingest()
        self._nrt_compact()

    def nrt(self):
        """Each batch: land, ingest, refresh the federated view, probe it
        (freshness = landing to the probe's answer), compact, refresh."""
        import engine.merge
        import engine.streaming

        from engine.oracle import Bm25Oracle
        from engine.query import SearchEngine
        from engine.server import FederatedSearchService
        from engine.streaming import current_index_dir
        from perfbench import checks, gen

        self.nrt_base()
        nc, tr, phase = self.nrt_corpus, self.tracer, self.nrt_phase
        url_to_doc = nc.url_to_doc()
        svc = FederatedSearchService(self.spark, work_dir=self.nrt_work,
                                     out_dir=self.nrt_out, partitions=4)
        probes = gen.hot_log(self.args.seed + 7, nc, NRT_PROBES * NRT_BATCHES,
                             head_terms=200, pool=50)
        fresh, compact_s, search_ms, ingest_s, view_s = [], [], [], [], []
        with tr.patched(engine.streaming, "compact", "streaming.compact"), \
                tr.patched(engine.merge, "merge_indexes",
                           "merge.merge_indexes"):
            for b in range(NRT_BATCHES):
                hi = NRT_BASE_DOCS + (b + 1) * NRT_BATCH_DOCS
                batch = nc.frame.iloc[hi - NRT_BATCH_DOCS:hi]
                landed = time.perf_counter()
                write_parquet(batch, os.path.join(self.nrt_src,
                                                  f"batch-{b}.parquet"))
                ingest_s.append(self._nrt_ingest())
                t = time.perf_counter()
                with tr.span("streaming.serving_view"):
                    svc.refresh()
                view_s.append(time.perf_counter() - t)
                phase["view"].record("refresh", view_s[-1] * 1e3, [])
                # freshness probe: the batch's first file, by its path
                row = batch.iloc[0]
                url = f"{row['repo']}/{row['path']}@{row['commit']}"
                q = f"{row['content'].split()[0]} path:{row['path']}"
                body = self._federated(svc, q, search_ms, phase["probe"])
                fresh.append(time.perf_counter() - landed)
                if [r["url"] for r in body] != [url]:
                    self.bad.append(f"NRT probe {q!r} did not return {url}")
                oracle = Bm25Oracle(gen.canonical(nc.frame.iloc[:hi]))
                answers = [(q, self._federated(svc, q, search_ms,
                                               phase["probe"]))
                           for q in probes[b * NRT_PROBES:
                                           (b + 1) * NRT_PROBES]]
                self.bad += checks.payloads(oracle, url_to_doc, answers)
                compact_s.append(self._nrt_compact())
                with tr.span("streaming.serving_view"):
                    svc.refresh()
        svc.close()
        final = SearchEngine(self.spark, current_index_dir(self.nrt_out))
        self.bad += [f"final generation: {m}" for m in checks.engine_topk(
            oracle, final, probes + [p.split()[0] for p in probes])]
        self.phases += list(phase.values())
        self.layer["streaming.freshness_s"] = (median(fresh), "s")
        self.layer["streaming.compact_s"] = (median(compact_s), "s")
        self.layer["streaming.ingest_s"] = (median(ingest_s), "s")
        self.layer["streaming.view_s"] = (median(view_s), "s")
        self.layer["query.federated_search_ms"] = (median(search_ms), "ms")
        self.layer["streaming.segment_s"] = (
            median(tr.durations("streaming.compact")), "s")
        self.layer["merge.merge_s"] = (
            median(tr.durations("merge.merge_indexes")), "s")
        self.layer["streaming.bytes_written_per_source_byte"] = (
            du(self.nrt_work, self.nrt_out) / du(self.nrt_src), "B/B")
        self.notes.append(
            f"nrt: freshness {[round(x, 2) for x in fresh]}s, compact "
            f"{[round(x, 2) for x in compact_s]}s, {len(search_ms)} "
            "federated searches")

    def _federated(self, svc, q, search_ms, phase):
        t = time.perf_counter()
        with self.tracer.span("query.federated_search_payload"):
            body = svc.search_payload(q)
        ms = (time.perf_counter() - t) * 1000.0
        search_ms.append(ms)
        phase.record(q, ms, body)
        return body

    # ------------------------------------------------------------- output

    def trace_overhead(self):
        """Cost the span machinery added to this run: spans recorded times
        the measured cost of one empty span."""
        n = 2000
        t = time.perf_counter()
        for _ in range(n):
            with self.tracer.span("trace.calibrate", request="calibrate"):
                pass
        per_span = (time.perf_counter() - t) / n
        del self.tracer.spans[-n:]
        self.layer["trace.overhead_ms"] = (
            len(self.tracer.spans) * per_span * 1000.0, "ms")


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    sys.path.insert(0, ROOT)
    os.chdir(work)       # anything Spark drops in its cwd stays in the run dir
    r = Run(args, work)
    try:
        r.setup()
        t = time.perf_counter()
        r.serve()
        t = r.lap("serve", t)
        if args.trace:
            r.trace_query_layers()
            r.trace_codec_tokenizer()
            t = r.lap("trace probes", t)
        r.server.stop()
        r.server = None
        if args.trace:
            r.nrt()
            t = r.lap("nrt", t)
            r.trace_overhead()
    finally:
        if r.server is not None:
            r.server.stop()
        _stop_spark(r)
        os.chdir(ROOT)
    print("env: " + " ".join(f"{k}={v}" for k, v in env.items()
                             if k.startswith("SPARK_GRAFT_")))
    for note in r.notes:
        print(note)
    print("wall: " + ", ".join(r.walls))
    attempted = failed = 0
    for p in r.phases:
        print(f"phase {p.name}: attempted {p.attempted} ok {p.ok} "
              f"failed {p.failed}")
        attempted += p.attempted
        failed += p.failed
    for m in r.bad:
        print(f"MISMATCH {m}")
    if args.trace:
        traces = os.path.join(BENCH, ".work", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-{args.seed}.json")
        r.tracer.write(path)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
        for layer, s in sorted(r.tracer.self_times().items(),
                               key=lambda kv: -kv[1]):
            print(f"self time {layer:<12} {s * 1000.0:10.1f} ms")
    metrics = r.layer if args.trace else r.e2e
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not r.bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())}}))
    return 0 if not r.bad else 1


def _stop_spark(r) -> None:
    """Stop the session and wait for its JVM to exit; Spark's Python worker
    daemon exits when the JVM closes its pipe. PySpark exposes the JVM
    process only through the gateway's private handle."""
    spark = getattr(r, "spark", None)
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
