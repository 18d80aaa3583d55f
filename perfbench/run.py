"""wise_spark benchmark: one run of one workload with one seed.

    python3 perfbench/run.py --workload serve-mix --seed 1 --seconds 10 --trace 0

Each run goes through the engine's whole lifecycle on `local[4]`:

  setup    start Spark; generate a seeded corpus with wise_spark.data.corpus_df;
           build the FTS5 and pandas oracles from it; build_index once over
           the delta docs to warm the JVM, then over the base docs;
           extend_index with the seeded ~5% delta of disjoint doc_ids; load
           the extended index and warm it.
  measure  drive the workload's queries in a closed loop for --seconds.
  check    compare every collected result with the oracles, and the
           extended index's corpus stats with the oracle's.
  teardown stop the server, join the clients, stop Spark and wait until the
           JVM and every Python worker it spawned have exited.

With --trace 0 the last stdout line is the JSON result with every end-to-end
metric; with --trace 1 the run records spans around the calls into each layer
and the result carries the per-layer metrics instead. A human-readable table
goes to stderr. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import http.client
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import urllib.parse
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import procs  # noqa: E402
import layer_profile  # noqa: E402
import spans as tr  # noqa: E402


N_DOCS = 5000
DELTA_FRACTION = 0.05
NPROC = 4                      # local[4]; also the client-thread cap
SERVE_CLIENTS = 2              # persistent HTTP connections, closed loop
HEAD_K = 100
HEAD_DF_BAND = (0.01, 0.40)    # df / N band of query-head terms
SCORE_TOL = 1e-9
RUN_DEADLINE_S = 170           # the run must end within 180 s
WORKLOADS = ("serve-mix", "query-head")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- inputs


def serve_requests(seed: int, client: int, n: int = 4000) -> list[tuple]:
    """Seeded serve-mix stream for one client: (query, start, end). Queries
    come from reference_queries (head/mid/tail df, multi-term, absent-term,
    Unicode), each once per cycle in a seeded order; every fifth request asks
    for a deeper page of 10 up to rank 100, the rest for ranks 0-10. The mix
    is stratified so that a short run sees the same blend on every seed."""
    from wise_spark.data import reference_queries

    qs = [q for _, q in reference_queries()]
    rng = np.random.default_rng([seed, client])
    out = []
    while len(out) < n:
        for j in rng.permutation(len(qs)):
            if len(out) % 5 == 4:
                start = 10 * int(rng.integers(1, 10))
                out.append((qs[j], start, start + 10))
            else:
                out.append((qs[j], 0, 10))
    return out[:n]


def head_queries(seed: int, index_dir: str, n_docs: int, n: int = 2000
                 ) -> list[tuple]:
    """Seeded query-head stream: (query, mode). 1-3 terms drawn from the
    index's terms table with df in HEAD_DF_BAND of N, so idf stays above
    the FTS5 floor, where block-max bounds can prune; half mode='any', half
    mode='all'. Only the term picks depend on the seed."""
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "terms")).to_table(
        columns=["term", "df"]).to_pandas()
    lo, hi = (int(f * n_docs) for f in HEAD_DF_BAND)
    band = sorted(t.loc[(t.df >= lo) & (t.df <= hi), "term"])
    rng = np.random.default_rng([seed, 7])
    out = []
    for i in range(n):  # (terms, mode) cycle through all six shapes
        terms = rng.choice(band, size=1 + (i // 2) % 3, replace=False)
        out.append((" ".join(terms), "any" if i % 2 == 0 else "all"))
    return out


def write_corpus(spark, seed: int, work: Path) -> tuple:
    """Generate the corpus with corpus_df, then split it into base and a
    seeded ~5% delta of disjoint doc_ids, each a parquet dataset."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from wise_spark.data import corpus_df

    full = work / "corpus"
    (corpus_df(spark, N_DOCS, seed=seed, partitions=NPROC)
     .select("doc_id", "url", "text").write.parquet(str(full)))
    table = pq.read_table(str(full))
    rng = np.random.default_rng([seed, 5])
    delta_ids = rng.choice(N_DOCS, size=int(N_DOCS * DELTA_FRACTION),
                           replace=False)
    is_delta = np.isin(table.column("doc_id").to_numpy(), delta_ids)
    for name, mask in (("base", ~is_delta), ("delta", is_delta)):
        part = table.filter(pa.array(mask))
        (work / name).mkdir()
        step = -(-part.num_rows // NPROC)
        for i in range(NPROC):
            pq.write_table(part.slice(i * step, step),
                           str(work / name / f"part-{i}.parquet"))
    return table.to_pandas(), int((~is_delta).sum()), len(delta_ids)


# ---------------------------------------------------------------- checks


class Checker:
    """Oracle comparison. FTS5's unicode61 tokenizer and our analyzer agree
    on ASCII text only: FTS5 folds diacritics and keeps 'ß', ours keeps
    diacritics and casefolds 'ß' to 'ss'. So a query is checked against the
    pandas BM25 oracle when it is non-ASCII or has a term that our analyzer
    derives from a non-ASCII word of the corpus (e.g. 'strasse'), and
    against FTS5 otherwise. Same doc_ids in the same order, scores within
    SCORE_TOL; ties break by ascending doc_id in both."""

    def __init__(self, fts5, pandas_oracle, docs):
        from wise_spark.analyzer import tokenize_text

        self.fts5, self.pandas = fts5, pandas_oracle
        self.urls = dict(zip(docs.doc_id, docs.url))
        self.unicode_terms = {
            t for text in docs.text if not text.isascii()
            for w in text.split() if not w.isascii()
            for t in tokenize_text(w)}
        self._tokenize = tokenize_text
        self._memo: dict = {}
        self.mismatches: list[str] = []

    def expected(self, q: str, k: int, mode: str):
        key = (q, k, mode)
        if key not in self._memo:
            fts5_ok = q.isascii() and not (
                self.unicode_terms & set(self._tokenize(q)))
            o = self.fts5 if fts5_ok else self.pandas
            self._memo[key] = o.topk(q, k=k, mode=mode)
        return self._memo[key]

    def check(self, what: str, q: str, mode: str, start: int, end: int,
              rows: list[dict]) -> bool:
        exp = self.expected(q, end, mode).iloc[start:end]
        ids = [int(r["doc_id"]) for r in rows]
        ok = ids == exp.doc_id.tolist() and all(
            abs(float(r["score"]) - s) <= SCORE_TOL
            for r, s in zip(rows, exp.score))
        ok = ok and all(self.urls[int(r["doc_id"])] == r["url"]
                        for r in rows if "url" in r)
        if not ok:
            self.mismatches.append(f"{what} {q!r} mode={mode} [{start},{end})")
        return ok


# ---------------------------------------------------------------- workloads


class ServeMix:
    """serve.SearchServer + spark_search_fn over the cached index, driven by
    SERVE_CLIENTS persistent HTTP connections in a closed loop."""

    main_root = tr.REQUEST
    cache = True

    def __init__(self, spark, idx, seed, tracer, job_groups):
        from wise_spark.serve import SearchServer, spark_search_fn

        self.seed, self.tracer = seed, tracer
        fn = spark_search_fn(idx)
        if tracer:
            fn = traced_search_fn(fn, tracer, spark, job_groups)
        self.server = SearchServer(fn, corpus_size=N_DOCS)
        self.port = self.server.start()
        self.results: list = []

    def warm(self) -> None:
        with Client(self.port, None) as c:
            for q, s, e in serve_requests(self.seed, 99, 1):
                c.get(q, s, e)

    def run(self, seconds: float) -> list[float]:
        deadline = time.perf_counter() + seconds
        threads, lats = [], []
        lock = threading.Lock()

        def client(i: int) -> None:
            with Client(self.port, self.tracer) as c:
                for n, (q, s, e) in enumerate(serve_requests(self.seed, i)):
                    if time.perf_counter() >= deadline:
                        return
                    ms, status, body = c.get(q, s, e, rid=f"c{i}-{n}")
                    with lock:
                        lats.append(ms)
                        self.results.append((q, s, e, status, body))

        for i in range(SERVE_CLIENTS):
            threads.append(threading.Thread(target=client, args=(i,)))
            threads[-1].start()
        for t in threads:
            t.join()
        return lats

    def check(self, checker: Checker) -> tuple[int, int]:
        failed = 0
        for q, s, e, status, body in self.results:
            rows = (body or {}).get("results", {}).get(q) if status == 200 else None
            if rows is None or not checker.check("serve", q, "any", s, e, rows):
                failed += 1
        return len(self.results), failed

    def close(self) -> None:
        self.server.stop()


class QueryHead:
    """FtsIndex.topk(k=100) called directly by one client on the uncached
    index; half mode='any', half mode='all'."""

    main_root = tr.QUERY
    cache = False

    def __init__(self, spark, idx, seed, tracer, job_groups):
        self.spark, self.idx, self.tracer = spark, idx, tracer
        self.job_groups = job_groups
        self.queries = head_queries(seed, idx.index_dir, idx.meta.n_docs)
        self.results: list = []
        self.probe = None

    def warm(self) -> None:
        for q, mode in self.queries[-1:]:
            self.idx.topk(q, k=HEAD_K, mode=mode).collect()

    def run(self, seconds: float) -> list[float]:
        deadline = time.perf_counter() + seconds
        lats = []
        for n, (q, mode) in enumerate(self.queries):
            if time.perf_counter() >= deadline:
                break
            t0 = time.perf_counter()
            ctx = contextlib.nullcontext()
            if self.tracer:
                gid = f"perfbench-q{n}"
                self.spark.sparkContext.setJobGroup(gid, q)
                self.job_groups.append(gid)
                ctx = self.tracer.span(tr.QUERY, rid=f"q{n}")
            with ctx:
                rows = self.idx.topk(q, k=HEAD_K, mode=mode).collect()
            lats.append((time.perf_counter() - t0) * 1000)
            self.results.append((q, mode, [r.asDict() for r in rows]))
        return lats

    def check(self, checker: Checker) -> tuple[int, int]:
        failed = sum(not checker.check("head", q, mode, 0, HEAD_K, rows)
                     for q, mode, rows in self.results)
        return len(self.results), failed

    def serve_probe(self) -> None:
        """Traced runs only: a few HTTP requests through SearchServer over the
        same uncached index, so the serve and hydrate layers are measured
        on this workload too (labelled as requests in the profile)."""
        from wise_spark.serve import SearchServer, spark_search_fn

        fn = traced_search_fn(spark_search_fn(self.idx), self.tracer,
                              self.spark, [])
        self.probe = SearchServer(fn, corpus_size=N_DOCS)
        port = self.probe.start()
        with Client(port, self.tracer) as c:
            for n, (q, _) in enumerate(self.queries[:6]):
                c.get(q, 0, 10, rid=f"probe-{n}")

    def close(self) -> None:
        if self.probe:
            self.probe.stop()


class Client:
    def __init__(self, port: int, tracer):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        self.tracer = tracer

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.conn.close()

    def get(self, q: str, start: int, end: int, rid=None):
        path = "/search?" + urllib.parse.urlencode(
            {"q": q, "start": start, "end": end})
        ctx = contextlib.nullcontext()
        if self.tracer and rid is not None:
            ctx = self.tracer.span(tr.REQUEST, rid=rid, q=q)
        t0 = time.perf_counter()
        try:
            with ctx:
                self.conn.request("GET", path)
                resp = self.conn.getresponse()
                status, raw = resp.status, resp.read()
            body = json.loads(raw) if status == 200 else None
        except (OSError, http.client.HTTPException, ValueError) as e:
            log(f"request failed: {q!r}: {e!r}")
            self.conn.close()
            status, body = -1, None
        return (time.perf_counter() - t0) * 1000, status, body


def traced_search_fn(fn, tracer, spark, job_groups):
    """Wrap the server's search_fn in a span and a per-request job group."""
    counter = itertools.count()

    def run(query, start, end):
        gid = f"perfbench-s{next(counter)}"
        spark.sparkContext.setJobGroup(gid, query)
        job_groups.append(gid)
        with tracer.span(tr.SEARCH_FN, q=query):
            return fn(query, start, end)

    return run


# ---------------------------------------------------------------- layers


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def index_layers(base_dir: str, ext_dir: str) -> dict:
    """index.build / index.merge metrics from the public lineage table and
    parquet footers of the base and the extended index."""
    import pyarrow.dataset as ds

    lin = ds.dataset(os.path.join(base_dir, "lineage")).to_table().to_pandas()
    wall = lin.groupby("stage").wall_ms.sum()
    seg = lin[lin.stage == "segments"]
    merge = ds.dataset(os.path.join(ext_dir, "lineage")).to_table().to_pandas()
    base_p, _ = postings_and_bytes(base_dir)
    ext_p, ext_b = postings_and_bytes(ext_dir)
    return {
        "index.build.tokens_ms": (float(wall.get("tokens", 0)), "ms", "lineage"),
        "index.build.doc_map_ms": (float(wall.get("doc_map", 0)), "ms", "lineage"),
        "index.build.segments_ms": (float(wall.get("segments", 0)), "ms", "lineage"),
        "index.build.terms_ms": (float(wall.get("terms", 0)), "ms", "lineage"),
        "index.build.postings": (float(seg.rows.sum()), "count", "base index"),
        "index.build.segment_bytes": (float(seg.bytes.sum()), "B", "base index"),
        "index.merge.remerge_ms": (
            float(merge.loc[merge.stage == "merge", "wall_ms"].sum()), "ms",
            "merge lineage row"),
        # the extend writes every segment of the new index; the postings it
        # adds would take (added / total) of those bytes
        "index.merge.write_amp": (
            ext_p / max(1, ext_p - base_p), "ratio",
            f"{ext_b} B written for {ext_p - base_p} of {ext_p} postings"),
    }


def postings_and_bytes(index_dir: str) -> tuple[int, int]:
    import pyarrow.dataset as ds

    seg = os.path.join(index_dir, "segments")
    n = ds.dataset(seg, partitioning="hive").to_table(columns=["n"]).column("n")
    return int(n.to_numpy().sum()), dir_bytes(seg)


def kernel_layers(index_dir: str, meta, queries: list[tuple]) -> dict:
    """Traced runs only: re-read each query's matched segment rows with
    pyarrow, then time codec.decode_postings on every row and
    wand.score_shard_wand on every shard, outside Spark."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from wise_spark.analyzer import tokenize_text
    from wise_spark.index import decode_postings
    from wise_spark.index.wand import score_shard_wand
    from wise_spark.query.bm25 import idf_scalar

    seg = ds.dataset(os.path.join(index_dir, "segments"), partitioning="hive")
    terms = ds.dataset(os.path.join(index_dir, "terms")).to_table(
        columns=["term", "df"]).to_pandas()
    df = dict(zip(terms.term, terms.df))
    cols = ["term", "shard", "n", "docids", "tfs", "doclens", "blk_last",
            "blk_max", "max_tfc"]
    dec_ms, kern_ms, postings, nbytes = [], [], [], []
    for q, mode, k in queries:
        qterms = sorted(set(tokenize_text(q)))
        idfs = {t: idf_scalar(df[t], meta.n_docs) for t in qterms if t in df}
        rows = seg.to_table(columns=cols,
                            filter=pc.field("term").isin(list(idfs))).to_pandas()
        t0 = time.perf_counter()
        for _, r in rows.iterrows():
            decode_postings(r)
        dec_ms.append((time.perf_counter() - t0) * 1000)
        postings.append(int(rows.n.sum()))
        nbytes.append(int(sum(len(r.docids) + len(r.tfs) + len(r.doclens)
                              for r in rows.itertuples())))
        t0 = time.perf_counter()
        if idfs and not (mode == "all" and len(idfs) < len(qterms)):
            for _, g in rows.groupby("shard", sort=False):
                score_shard_wand(g, idfs, meta.avgdl, len(qterms), mode, k)
        kern_ms.append((time.perf_counter() - t0) * 1000)
    base = f"mean over {len(queries)} queries"
    return {
        "index.codec.decode_ms": (statistics.fmean(dec_ms), "ms", base),
        "index.codec.postings_decoded": (statistics.fmean(postings), "count", base),
        "index.codec.bytes_read": (statistics.fmean(nbytes), "B", base),
        "index.wand.kernel_ms": (statistics.fmean(kern_ms), "ms", base),
    }


def tokenize_layer(texts: list[str], seed: int, n: int = 2000) -> dict:
    from wise_spark.analyzer import tokenize_text

    rng = np.random.default_rng([seed, 11])
    sample = [texts[i] for i in rng.choice(len(texts), size=n, replace=False)]
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        for t in sample:
            tokenize_text(t)
        reps.append(time.perf_counter() - t0)
    return {"analyzer.tokenize_docs_per_s": (
        n / statistics.median(reps), "docs/s", f"{n} docs, median of 3")}


def spark_layers(spark, groups: list[str]) -> dict:
    st = spark.sparkContext.statusTracker()
    jobs, tasks = [], []
    for g in groups:
        ids = st.getJobIdsForGroup(g)
        n_tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                n_tasks += si.numTasks if si else 0
        jobs.append(len(ids))
        tasks.append(n_tasks)
    base = f"mean over {len(groups)} job groups"
    return {
        "spark.jobs_per_query": (statistics.fmean(jobs) if jobs else 0.0, "count", base),
        "spark.tasks_per_query": (statistics.fmean(tasks) if tasks else 0.0, "count", base),
    }


# ---------------------------------------------------------------- run


def start_spark(work: Path):
    from wise_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    return get_spark(
        master=f"local[{NPROC}]", app_name="perfbench", shuffle_partitions=8,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        })


def stop_spark(spark) -> None:
    """spark.stop() leaves the gateway JVM running until its stdin closes;
    close it so the JVM, and the Python workers under it, exit now."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass  # wait_tree_gone kills it


def run(args, work: Path, monitor) -> dict:
    from wise_spark.index import FtsIndex, build_index, extend_index
    from wise_spark.oracle.bm25_pandas import PandasBM25Oracle
    from wise_spark.oracle.fts5 import Fts5Oracle

    tracer = tr.Tracer() if args.trace else None
    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    job_groups: list[str] = []
    attempted = failed = 0
    spark = wl = None
    out: dict = {}
    try:
        t_setup = time.perf_counter()
        with span("setup"):
            with span("session.get_spark"):
                spark = start_spark(work)
            with span("data.corpus_df"):
                pdf, n_base, n_delta = write_corpus(spark, args.seed, work)
            with span("oracle.fts5"):
                fts5 = Fts5Oracle(pdf)
            with span("oracle.pandas"):
                poracle = PandasBM25Oracle(pdf)
            base_dir, ext_dir = str(work / "idx-base"), str(work / "idx-ext")
            # a fresh JVM compiles the build path while it runs it; a build of
            # the small delta first keeps that one-off cost out of the timed
            # base build (it still counts in setup_s)
            with span("index.build_index.warm"):
                build_index(spark.read.parquet(str(work / "delta")),
                            str(work / "idx-warm"), url_col="url")
            t0 = time.perf_counter()
            with span("index.build_index"):
                build_index(spark.read.parquet(str(work / "base")), base_dir,
                            url_col="url")
            build_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            with span("index.extend_index"):
                meta = extend_index(spark, base_dir,
                                    spark.read.parquet(str(work / "delta")),
                                    ext_dir, url_col="url")
            extend_s = time.perf_counter() - t0
            attempted += 2
            wl_cls = ServeMix if args.workload == "serve-mix" else QueryHead
            with span("index.load"):
                idx = FtsIndex.load(spark, ext_dir, cache=wl_cls.cache)
            if tracer:
                idx.topk = tracer.wrap(idx.topk, tr.TOPK)
                idx.term_stats = tracer.wrap(idx.term_stats, tr.TERM_STATS)
                idx.hydrate = tracer.wrap(idx.hydrate, tr.HYDRATE)
            wl = wl_cls(spark, idx, args.seed, tracer, job_groups)
            with span("warm"):
                if tracer:
                    tracer.enabled = False  # warm-up requests are not profiled
                wl.warm()
                if tracer:
                    tracer.enabled = True
        setup_s = time.perf_counter() - t_setup

        # ingest check: the extended index's corpus stats equal the oracle's
        stats_ok = (meta.n_docs == poracle.n_docs == n_base + n_delta and
                    abs(meta.avgdl - poracle.avgdl) <= SCORE_TOL * poracle.avgdl)
        if not stats_ok:
            failed += 1
            log(f"MISMATCH extended index n_docs={meta.n_docs} avgdl="
                f"{meta.avgdl!r}, oracle n_docs={poracle.n_docs} avgdl="
                f"{poracle.avgdl!r}")

        t_loop = time.perf_counter()
        if tracer:
            job_groups.clear()
            with tracer.patched_collect(type(spark.range(0))):
                lats = wl.run(args.seconds)
        else:
            lats = wl.run(args.seconds)
        loop_s = time.perf_counter() - t_loop

        checker = Checker(fts5, poracle, pdf)
        n, bad = wl.check(checker)
        attempted += n
        failed += bad
        for m in checker.mismatches[:10]:
            log("MISMATCH", m)

        postings, seg_bytes = postings_and_bytes(ext_dir)
        e2e = {
            "setup_s": (setup_s, "s", 1),
            "query_p50_ms": (statistics.median(lats), "ms", len(lats)),
            "query_p90_ms": (float(np.percentile(lats, 90)), "ms", len(lats)),
            "qps": (len(lats) / loop_s, "1/s", len(lats)),
            "build_docs_per_s": (n_base / build_s, "docs/s", 1),
            "extend_s": (extend_s, "s", 1),
            "index_bytes_per_posting": (seg_bytes / postings, "B", postings),
        }
        out["e2e"] = e2e
        if tracer:
            main_queries = ([(q, "any", e) for q, s, e, *_ in wl.results]
                            if isinstance(wl, ServeMix)
                            else [(q, m, HEAD_K) for q, m, _ in wl.results])
            layers = spark_layers(spark, job_groups)
            if isinstance(wl, QueryHead):
                with tracer.patched_collect(type(spark.range(0))):
                    wl.serve_probe()
            tr.link_requests(tracer.spans)
            for name, (v, cnt) in tr.query_layer_metrics(
                    tracer.spans, wl.main_root).items():
                layers[name] = (v, "ms", f"mean over {cnt} requests")
            layers.update(kernel_layers(ext_dir, meta, main_queries[:40]))
            layers.update(tokenize_layer(pdf.text.tolist(), args.seed))
            layers.update(index_layers(base_dir, ext_dir))
            out["layers"] = layers
        out["timeline"] = {"setup": setup_s, "loop": loop_s,
                           "after_loop": time.perf_counter() - t_loop - loop_s}
    finally:
        t_down = time.perf_counter()
        try:
            if wl is not None:
                wl.close()
        finally:
            try:
                if spark is not None:
                    stop_spark(spark)
            finally:
                monitor.stop()
                killed = procs.wait_tree_gone(timeout_s=30)
        attempted += 1
        if killed:
            failed += 1
            log(f"killed {len(killed)} process(es) that outlived Spark: {killed}")
    out["timeline"]["teardown"] = time.perf_counter() - t_down
    # a per-layer metric, not an end-to-end one: the JVM's heap growth
    # follows its GC timing, so the peak moves by more than any bound
    # allows between runs of the same code
    rss = (monitor.peak_bytes / (1 << 20), "MB", "process tree, 0.25 s samples")
    if tracer:
        out["layers"]["peak_rss_mb"] = rss
    else:
        out["e2e_extra"] = {"peak_rss_mb": rss}
    out.update(attempted=attempted, failed=failed, spans=(
        tracer.spans if tracer else None))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "wise_spark" / "__init__.py").is_file():
        log(f"perfbench: no wise_spark package under {ROOT}; run from a "
            "checkout of the repository")
        return 2
    sys.path.insert(0, str(ROOT))

    layer_profile.RESULTS.mkdir(parents=True, exist_ok=True)
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the launcher JVM that spark-submit starts first must not write
    # /tmp/hsperfdata_<user> either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(work / "tmp")

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_DEADLINE_S)
    procs.become_subreaper()
    monitor = procs.TreeMonitor().start()
    try:
        out = run(args, work, monitor)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    e2e = out["e2e"]
    log(f"\n== {args.workload} seed={args.seed} trace={args.trace}: "
        f"attempted {out['attempted']}, failed {out['failed']}, error_rate "
        f"{out['failed'] / out['attempted']:.4f} ==")
    for name, (v, unit, n) in {**e2e, **out.get("e2e_extra", {})}.items():
        log(f"{name:26s} {v:14.4f} {unit:8s} samples={n}")
    log("timeline: " + ", ".join(f"{k} {v:.1f} s"
                                 for k, v in out["timeline"].items()))
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        tr.dump(str(layer_profile.RESULTS / f"trace-{tag}.json"),
                {"spans": out["spans"], "layers": out["layers"], "e2e": e2e})
        layer_profile.report(args.workload, args.seed)
        metrics = out["layers"]
    else:
        tr.dump(str(layer_profile.RESULTS / f"e2e-{tag}.json"), e2e)
        metrics = e2e
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v[0], "unit": v[1]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
