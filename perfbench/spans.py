"""Spans recorded from the benchmark's own code around calls into each layer
of wise_spark, and the layer profile computed from them.

A span is (id, name, start, end, parent, rid): `rid` is the request it
belongs to. Spans are kept in memory and written out once the run ends.
A span's self time is its duration minus the durations of its children;
the children of one span run sequentially in one thread, so the self times
of a request's spans add up to the request's wall time exactly.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict

# span names
REQUEST = "serve.request"          # client-side HTTP request (serve-mix root)
QUERY = "query"                    # direct topk + collect (query-head root)
SEARCH_FN = "serve.search_fn"      # spark_search_fn as called by the server
TOPK = "index.reader.topk"         # FtsIndex.topk(): analyze, df lookup, plan
TERM_STATS = "index.reader.term_stats"
HYDRATE = "index.reader.hydrate"
COLLECT = "spark.collect"          # DataFrame.collect(): runs the Spark job(s)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.enabled = True

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, rid=None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "rid": rid if rid is not None else (parent or {}).get("rid"),
               "start": time.perf_counter(), "end": None, **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched_collect(self, df_cls):
        """Record every collect() of DataFrame class `df_cls` as a span
        while active (pass the session's concrete class: PySpark 4 splits
        DataFrame into an API class and per-backend implementations)."""
        orig = df_cls.collect
        df_cls.collect = self.wrap(orig, COLLECT)
        try:
            yield
        finally:
            df_cls.collect = orig


def link_requests(spans: list[dict]) -> None:
    """Parent each server-side search_fn span to the client request that
    caused it. Server and client run in different threads, and the HTTP API
    carries no request id, so the match is by query text and interval: the
    request in flight with the same query that started last before it."""
    reqs = [s for s in spans if s["name"] == REQUEST]
    taken: set[int] = set()
    by_id = {s["id"]: s for s in spans}
    for sf in sorted((s for s in spans if s["name"] == SEARCH_FN),
                     key=lambda s: s["start"]):
        cands = [r for r in reqs if r["id"] not in taken and r["q"] == sf["q"]
                 and r["start"] <= sf["start"] and sf["end"] <= r["end"]]
        if not cands:
            continue
        req = max(cands, key=lambda r: r["start"])
        taken.add(req["id"])
        sf["parent"] = req["id"]
        for s in spans:  # propagate the request id down the server subtree
            p = s
            while p is not None and p["id"] != sf["id"]:
                p = by_id.get(p["parent"])
            if p is not None:
                s["rid"] = req["rid"]


def _dur_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def self_times(spans: list[dict]) -> dict[int, float]:
    child_ms: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] += _dur_ms(s)
    return {s["id"]: _dur_ms(s) - child_ms[s["id"]] for s in spans}


def query_layer_metrics(spans: list[dict], main_root: str
                        ) -> dict[str, tuple[float, int]]:
    """Per-query layer metrics as name -> (mean ms, number of requests).
    Reader metrics average over the workload's own requests (`main_root`);
    serve and hydrate metrics over HTTP requests."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    per_rid: dict = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["rid"] is None:
            continue
        m, d = per_rid[s["rid"]], _dur_ms(s)
        parent = by_id.get(s["parent"], {}).get("name")
        if s["parent"] is None:
            m["root"] = s["name"]
        if s["name"] == TOPK:
            m["plan"] += d
        elif s["name"] == TERM_STATS:
            m["term_stats"] += d
        elif s["name"] == HYDRATE:
            m["hydrate"] += selfs[s["id"]]
        elif s["name"] == COLLECT and parent in (HYDRATE, QUERY):
            m["exec"] += d            # the collect that runs the topk plan
        elif s["name"] == COLLECT and parent == SEARCH_FN:
            m["hydrate"] += d         # the hydrated join's own job
        elif s["name"] == REQUEST:
            m["serve_overhead"] += selfs[s["id"]]
    main = [m for m in per_rid.values() if m.get("root") == main_root]
    http = [m for m in per_rid.values() if m.get("root") == REQUEST]
    out = {}
    for key, name, rows in [("plan", "index.reader.plan_ms", main),
                            ("exec", "index.reader.exec_ms", main),
                            ("term_stats", "index.reader.term_stats_ms", main),
                            ("hydrate", "index.reader.hydrate_ms", http),
                            ("serve_overhead", "serve.overhead_ms", http)]:
        vals = [m[key] for m in rows]
        out[name] = (statistics.fmean(vals) if vals else 0.0, len(vals))
    return out


def print_profile(spans: list[dict], layer_metrics: dict, file) -> None:
    """Per kind of request: self time and counts per span name, and how much
    of the requests' wall time the self times account for. Then the setup
    spans and the per-layer metrics with their bases."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    roots = {s["rid"]: s for s in spans
             if s["parent"] is None and s["rid"] is not None}
    for kind in sorted({r["name"] for r in roots.values()}):
        mine = [r for r in roots.values() if r["name"] == kind]
        rids = {r["rid"] for r in mine}
        root_ms = sum(_dur_ms(r) for r in mine)
        agg: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
        for s in spans:
            if s["rid"] not in rids:
                continue
            name = s["name"]
            if name == COLLECT:  # a job's cost belongs to the call that ran it
                name += " < " + by_id[s["parent"]]["name"]
            a = agg[name]
            a[0] += 1
            a[1] += _dur_ms(s)
            a[2] += selfs[s["id"]]
        print(f"\n== {kind}: {len(mine)} requests, wall {root_ms:.1f} ms ==",
              file=file)
        print(f"{'span':40s} {'count':>6s} {'total ms':>10s} {'self ms':>10s} "
              f"{'self/req ms':>12s} {'self share':>10s}", file=file)
        for name, (cnt, tot, slf) in sorted(agg.items(),
                                            key=lambda kv: -kv[1][2]):
            print(f"{name:40s} {cnt:6d} {tot:10.1f} {slf:10.1f} "
                  f"{slf / len(mine):12.2f} {slf / root_ms:10.1%}", file=file)
        covered = sum(a[2] for a in agg.values())
        print(f"self times account for {covered:.1f} ms of the {root_ms:.1f} "
              f"ms request wall ({covered / root_ms:.1%})", file=file)
    setup = [s for s in spans if s["rid"] is None]
    if setup:
        print("\n== setup spans ==", file=file)
        for s in sorted(setup, key=lambda s: s["start"]):
            print(f"{s['name']:28s} {_dur_ms(s):10.1f} ms "
                  f"(self {selfs[s['id']]:.1f} ms)", file=file)
    print("\n== per-layer metrics ==", file=file)
    for name, (value, unit, base) in layer_metrics.items():
        print(f"{name:34s} {value:14.4f} {unit:8s} {base}", file=file)


def print_overhead(traced: dict, untraced: dict, file) -> None:
    """Traced vs untraced end-to-end metrics of the same workload and seed."""
    print("\n== tracing overhead (traced vs untraced run, same seed) ==",
          file=file)
    for name in ("query_p50_ms", "query_p90_ms", "qps"):
        if name in traced and name in untraced and untraced[name]:
            t, u = traced[name], untraced[name]
            print(f"{name:16s} traced {t:10.3f}  untraced {u:10.3f}  "
                  f"change {t / u - 1:+.1%}", file=file)


def dump(path: str, payload: dict) -> None:
    with open(path, "w") as f:
        json.dump(payload, f)
