"""Spans around the package's public functions, installed from outside.

``Tracer.install()`` replaces a fixed set of functions and methods with
timing wrappers (``uninstall()`` puts the originals back). A span records
name, start, end, parent span and request id; spans of one top-level call
share the request id. Spans stay in memory until ``dump``.

The wrappers see only calls made in this process. Work that Spark runs in
Python workers (extraction and analysis inside a build) is measured by the
status-store reader and by the in-process layer probes instead.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (name, t0, t1, parent, req, thread)
        self.counts: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._req = itertools.count(1)
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        # blocks decoded per posting list of the current request
        self._lists: dict[int, int] = {}
        self._decoded: dict[int, set] = {}

    # -- recording ------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        parent = st[-1][0] if st else None
        req = st[-1][1] if st else next(self._req)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)
        st.append((idx, req))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans[idx] = (name, t0, t1, parent, req,
                               threading.get_ident())
            if not st and self._lists:
                self._close_request()

    def _close_request(self):
        with self._lock:
            present = sum(self._lists.values())
            decoded = sum(len(self._decoded.get(k, ())) for k in self._lists)
            self.counts["query.wand.blocks_present"] += present
            self.counts["query.wand.blocks_decoded"] += decoded
            self._lists.clear()
            self._decoded.clear()

    # -- installation ---------------------------------------------------------
    def _patch(self, owner, attr: str, new):
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str):
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        self._patch(owner, attr, wrapper)

    def wrap_cm(self, owner, attr: str, name: str):
        """Time the body of a context manager the function returns."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        @contextlib.contextmanager
        def wrapper(*a, **kw):
            with tracer.span(name), fn(*a, **kw) as v:
                yield v

        self._patch(owner, attr, wrapper)

    def install(self):
        from baram_spark import serving
        from baram_spark.index import builder, fs
        from baram_spark.query import engine, wand

        w = self.wrap
        w(serving.ServingContext, "search", "serving.search")
        w(serving.ServingContext, "refresh", "serving.refresh")
        w(serving.ServingContext, "_knn", "query.hybrid.knn")
        w(serving, "embed_query", "query.hybrid.embed_query")
        w(serving, "hybrid_search", "query.hybrid.fusion")
        w(serving, "highlight", "query.hybrid.highlight")
        w(engine.SearchEngine, "search", "query.engine.search")
        w(engine, "analyze_search", "textproc.analyzer.search")
        w(engine, "score_blockmax", "query.wand.score")
        w(builder.IndexBuilder, "build", "index.builder.build")
        w(builder.IndexBuilder, "build_incremental",
          "index.builder.build_incremental")
        w(builder.IndexBuilder, "delete_docs", "index.builder.delete_docs")
        w(fs, "publish_manifest", "index.fs.publish_manifest")
        self.wrap_cm(fs, "commit_lock", "index.fs.commit_lock")
        self._count_postings(wand.TermPostings)

    def _count_postings(self, cls):
        tracer = self
        init, decode = cls.__init__, cls.decode_blocks

        @functools.wraps(init)
        def counted_init(tp, *a, **kw):
            init(tp, *a, **kw)
            with tracer._lock:
                tracer._lists[id(tp)] = tp.n_blocks
                tracer.counts["query.wand.postings_lists"] += 1

        @functools.wraps(decode)
        def counted_decode(tp, bidxs):
            with tracer._lock:
                tracer._decoded.setdefault(id(tp), set()).update(
                    int(b) for b in bidxs)
            with tracer.span("query.wand.decode"):
                return decode(tp, bidxs)

        self._patch(cls, "__init__", counted_init)
        self._patch(cls, "decode_blocks", counted_decode)

    def uninstall(self):
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- reduction ------------------------------------------------------------
    def totals(self) -> dict[str, dict]:
        """Per span name: calls, total seconds, self seconds (total minus
        the time its direct children cover)."""
        spans = [s for s in self.spans if s is not None]
        child_s = defaultdict(float)
        for name, t0, t1, parent, _req, _th in spans:
            if parent is not None and self.spans[parent] is not None:
                child_s[parent] += t1 - t0
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, (name, t0, t1, parent, _req, _th) in enumerate(self.spans):
            if self.spans[i] is None:
                continue
            o = out[name]
            o["calls"] += 1
            o["total_s"] += t1 - t0
            o["self_s"] += (t1 - t0) - child_s.get(i, 0.0)
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s and s[0] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                if s is None:
                    continue
                name, t0, t1, parent, req, th = s
                f.write(json.dumps({"id": i, "name": name, "start": t0,
                                    "end": t1, "parent": parent, "req": req,
                                    "thread": th}) + "\n")
