"""The workloads and the phases they share.

Every workload runs the same phases, with different weights, so that every
end-to-end metric is measured on every workload and each layer is heavy in
one workload and light in the other:

- set-up: Spark session at ``local[4]``, input materialization, Python
  worker warm-up, the pre-built index, and the serving snapshot opened
  three times (the median counts);
- a fixed number of incremental waves, each followed by a refresh and a
  freshness probe;
- a closed loop with one client for the run's seconds and at least
  1,000 queries;
- untimed: every answer checked against the oracles; in a traced run,
  the layer probes and the operator suite.

Every timed phase (the pre-built index, each wave, the closed loop) is
measured with a host gauge (``host.py``), and the end-to-end times are
reported at the gauge's reference host speed.

``serve_bm25`` runs the closed loop on the freshly built one-generation
index and the waves after it, with no reads beside them.
``ingest_while_serving`` runs the waves first, with an open-loop query
stream beside them until the last wave is refreshed, and then the closed
loop over the multi-generation index the waves left. The open loop is
timed from each query's due time and reported per layer: each refresh
stalls it for one to two seconds, and the length of the longest stall
swings run to run by more than any bound the end-to-end metrics may have.
"""

from __future__ import annotations

import gc
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from . import gen, host, oracle, probes

CORES = 4
SETUP_OPENS = 3          # serving snapshot opened this many times in set-up
MIN_SAMPLES = 1000       # latency samples per run: p99 has >= 10 beyond it
WINDOWS = 8              # p50 and throughput: median over equal time windows
GAUGE_EVERY = 25         # closed loop: time the host kernel every this many queries
# end-to-end metrics reported at the host gauge's reference speed
SCALED = ("build_docs_per_s", "ingest_docs_per_s", "freshness_s",
          "query_p50_ms", "query_p99_ms", "queries_per_s")
JVM_HEAP = "1g"          # fixed at start so the JVM's RSS does not drift
# Open-loop queries per second beside the waves: half of serve_bm25's
# closed-loop queries_per_s (about 340/s on a 4-vCPU host).
OPEN_RATE = 170.0


@dataclass(frozen=True)
class Spec:
    source: str               # page corpus: "corpus" | "bigvocab"
    build_pages: int          # pages of the pre-built index
    wave_pages: int
    # the first wave runs colder than the rest; a median over three
    # waves leaves it out where the waves are short
    waves: int
    # waves first, beside an open loop at OPEN_RATE, then the closed loop;
    # else the closed loop first, then the waves alone
    while_serving: bool


WORKLOADS = {
    "serve_bm25": Spec("corpus", 1000, 60, 3, while_serving=False),
    "ingest_while_serving": Spec("bigvocab", 400, 150, 2, while_serving=True),
}


def spin_ms() -> float:
    """A fixed pure-Python loop: the host's speed at this moment."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def pct(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(np.ceil(q / 100.0 * len(v))) - 1))]


def samples_beyond(n: int, q: float) -> int:
    return n - int(np.ceil(q / 100.0 * n))


@dataclass
class Sample:
    qidx: int
    latency_s: float
    engines: tuple          # serving engine before and after the call
    hits: list | None       # normalized answer, None when the call raised
    at: float               # when it was sent (closed) or due (open loop)
    lag_s: float = 0.0      # open loop: start minus due time


@dataclass
class State:
    """What a serving snapshot was opened on."""

    engine: object
    gens: list
    deleted: set


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    spec: Spec = field(init=False)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    phase_s: dict = field(default_factory=dict)

    def __post_init__(self):
        self.spec = WORKLOADS[self.workload]
        self.work = os.path.join(self.root, ".perfbench_work",
                                 f"{self.workload}-{self.seed}-{os.getpid()}")
        self.source = gen.PageSource(self.spec.source, self.seed)
        self.pool = gen.query_pool(self.seed, self.spec.source)
        self.states: dict[int, State] = {}
        self.html_bytes: dict[str, int] = {}
        self.input_bytes = 0  # html bytes of every page fed to the index
        self.written = 0      # bytes the process tree wrote while indexing
        self.tracer = None
        self._count_lock = threading.Lock()

    # -- bookkeeping ----------------------------------------------------------
    def fail(self, what: str):
        with self._count_lock:  # the open-loop thread counts too
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def op(self, ok: bool, what: str):
        with self._count_lock:
            self.attempted += 1
        if not ok:
            self.fail(what)

    # -- session ----------------------------------------------------------------
    def start_session(self):
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
        from baram_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]",
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Xms{JVM_HEAP} -Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "wh"),
            })
        self.gateway = self.spark.sparkContext._gateway
        self.stages = probes.SparkStages(self.spark)
        self.phase_s["session"] = time.perf_counter() - t

    def stop_session(self):
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        t0 = time.perf_counter()
        pids = probes.descendants()
        try:
            self.spark.stop()
        finally:
            proc = getattr(self.gateway, "proc", None)
            try:
                self.gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            if not probes.wait_gone(pids, 20):
                for p in pids:
                    try:
                        os.kill(p, 9)
                    except (ProcessLookupError, PermissionError):
                        pass
                probes.wait_gone(pids, 10)
            self.phase_s["stop"] = time.perf_counter() - t0

    # -- inputs -------------------------------------------------------------------
    def materialize(self):
        """Pages of the pre-built index and of every wave, as parquet."""
        t = time.perf_counter()
        spec, n = self.spec, self.spec.build_pages
        self.waves = gen.wave_schedule(self.seed, self.source, n,
                                       spec.waves, spec.wave_pages)
        self.pages_path = self._write(self.source.render(
            self.source.indices(0, n)), "pages")
        self.wave_paths, self.probes, self.wave_ids = [], [], []
        for w in self.waves:
            pdf = self.source.render(np.concatenate([w.new, w.recrawl]))
            term = gen.probe_term(self.seed, w.number)
            for i in range(len(w.new)):
                planted = gen.plant_probe(pdf.at[i, "html"], term)
                if planted is not None:
                    pdf.at[i, "html"] = planted
                    self.probes.append((term, _doc_id(pdf.at[i, "url"])))
                    break
            else:
                raise RuntimeError(f"wave {w.number}: no page takes a probe")
            self.wave_paths.append(self._write(pdf, f"wave{w.number}"))
            self.wave_ids.append([_doc_id(u) for u in pdf["url"][:len(w.new)]])
        self.phase_s["materialize"] = time.perf_counter() - t

    def _write(self, pdf, name: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, "input", name)
        os.makedirs(path)
        self.html_bytes[path] = int(pdf["html"].map(len).sum())
        tbl = pa.table({
            "url": pa.array(pdf["url"], pa.string()),
            "warc_ts": pa.array(pdf["warc_ts"]).cast(pa.timestamp("us", "UTC")),
            "html": pa.array(pdf["html"], pa.binary()),
            "lang": pa.array(pdf["lang"], pa.string())})
        pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
        return path

    def warm_workers(self):
        """Start the Python workers and import the extraction and analysis
        modules in them, as a long-running cluster has them."""
        t = time.perf_counter()

        def warm(batches):
            import pandas as pd

            from baram_spark.textproc.analyzer import analyze_index
            from baram_spark.textproc.extract import extract_batch  # noqa: F401

            for pdf in batches:
                analyze_index("워밍업 warm")
                yield pd.DataFrame({"x": [len(pdf)]})

        n = CORES * 2
        self.spark.range(0, n, 1, n).mapInPandas(warm, "x long").count()
        self.phase_s["warm"] = time.perf_counter() - t

    # -- builds -------------------------------------------------------------------
    def builder(self, out_dir: str):
        from baram_spark.index.builder import IndexBuilder

        return IndexBuilder(self.spark, out_dir, n_shards=CORES,
                            salt_threshold=max(self.spec.build_pages // 8, 1000),
                            shard_concurrency=CORES, build_embeddings=True)

    def build_phase(self):
        """The pre-built index: one fresh build of the workload's pages."""
        out_dir = os.path.join(self.work, "idx")
        b = self.builder(out_dir)
        pages = self.spark.read.parquet(self.pages_path)
        wb = probes.write_bytes()
        with self.stages.windows(b, "_stage_postings") as post, \
                self.stages.group("build", post) as sm, host.sampled() as g:
            t = time.perf_counter()
            m = b.build(pages, fingerprint=f"perfbench-{self.seed}",
                        resume=False)
            wall = time.perf_counter() - t
        self.written += probes.write_bytes() - wb
        self.input_bytes += self.html_bytes[self.pages_path]
        docs = int(m.get("docs_out", 0))
        self.op(docs > 0, "build committed no docs")
        self.index = {"builder": b, "wall": wall, "docs": docs, "metrics": m,
                      "stages": sm, "dir": out_dir, "factor": g.factor}
        self.phase_s["build"] = wall

    # -- serving ------------------------------------------------------------------
    def open_serving(self):
        from baram_spark.serving import ServingContext

        walls = []
        for _ in range(SETUP_OPENS):
            t = time.perf_counter()
            self.ctx = ServingContext(self.spark, self.index["dir"])
            walls.append(time.perf_counter() - t)
        self.phase_s["serving_open"] = statistics.median(walls)
        self.record_state()

    def record_state(self):
        """Map the context's current snapshot to what it was opened on.
        Only this run commits to the index, so the manifest read right
        after an open or refresh is the one that snapshot saw."""
        from baram_spark.index import fs

        m = fs.read_manifest(self.index["dir"]) or {}
        eng = self.ctx.engine
        self.states[id(eng)] = State(eng, list(m.get("generations", [0])),
                                     set(self.index["builder"].deleted_ids()))

    def search(self, q: gen.Query) -> dict:
        return self.ctx.search(q.text, mode=q.mode, k=q.k,
                               category=q.category, publisher=q.publisher,
                               date_from=q.date_from, date_to=q.date_to)

    def one_query(self, qidx: int, due: float | None = None) -> Sample:
        q = self.pool[qidx]
        before = self.ctx.engine
        start = time.perf_counter()
        try:
            res = self.search(q)
        except Exception as e:
            res = None
            self.fail(f"query {q.text!r}: {e!r}")
        end = time.perf_counter()
        after = self.ctx.engine
        origin = start if due is None else due
        return Sample(qidx, end - origin, (id(before), id(after)),
                      None if res is None else oracle.answer(res), origin,
                      0.0 if due is None else start - due)

    def closed_loop(self, order: list[int], seconds: float) -> list:
        """One client: each query is sent when the previous one returned.
        The host kernel is timed between queries every GAUGE_EVERY."""
        gc.collect()  # start from the same collector state on every run
        out = []
        self.loop_gauge = g = host.Gauge()
        t0 = time.perf_counter()
        for i, qidx in enumerate(order):
            if i % GAUGE_EVERY == 0:
                g.sample()
            out.append(self.one_query(qidx))
            if i + 1 >= MIN_SAMPLES and time.perf_counter() - t0 >= seconds:
                break
        g.stop()
        return out

    def open_loop(self, order: list[int], stop: threading.Event, out: list):
        """Send query i at t0 + i/rate whatever happened to earlier ones,
        until ``stop`` is set; each latency counts from the due time."""
        t0 = time.perf_counter()
        for i, qidx in enumerate(order):
            due = t0 + i / OPEN_RATE
            if stop.wait(max(0.0, due - time.perf_counter())):
                break
            out.append(self.one_query(qidx, due))

    # -- waves --------------------------------------------------------------------
    def wave_phase(self):
        """Every wave of the schedule; while serving, the open loop runs
        beside them from the first build to the last refresh."""
        stop = threading.Event()
        self.open_samples: list = []
        order = gen.query_stream(self.seed + 1, self.pool, 100_000)
        client = threading.Thread(target=self.open_loop, name="open-loop",
                                  args=(order, stop, self.open_samples))
        self.wave_walls, self.wave_docs, self.freshness = [], [], []
        self.wave_stages, self.wave_factors = [], []
        b = self.index["builder"]
        gc.collect()
        t0 = time.perf_counter()
        if self.spec.while_serving:
            client.start()
        try:
            for w, path in zip(self.waves, self.wave_paths):
                self.one_wave(b, w, path)
        finally:
            stop.set()
            if self.spec.while_serving:
                client.join(timeout=120)
                self.op(not client.is_alive(), "open-loop client did not stop")
        self.phase_s["waves"] = time.perf_counter() - t0

    def one_wave(self, b, w: gen.Wave, path: str):
        pages = self.spark.read.parquet(path)
        term, probe_doc = self.probes[w.number]
        wb = probes.write_bytes()
        with host.sampled() as g:
            with self.stages.windows(b, "_stage_postings") as post, \
                    self.stages.group(f"wave:{w.number}", post) as sm:
                t0 = time.perf_counter()
                m = b.build_incremental(
                    pages, fingerprint=f"wave-{self.seed}-{w.number}")
                wall = time.perf_counter() - t0
                if w.delete_share:
                    ids = self.wave_ids[w.number]
                    rng = np.random.default_rng([self.seed, 23, w.number])
                    n = max(1, int(round(len(ids) * w.delete_share)))
                    victims = [i for i in rng.choice(ids, n, replace=False)
                               if i != probe_doc]
                    b.delete_docs(victims)
            self.written += probes.write_bytes() - wb
            self.input_bytes += self.html_bytes[path]
            self.ctx.refresh()
            res = self.ctx.search(term, mode="bm25", k=10)
            self.freshness.append(time.perf_counter() - t0)
        self.wave_factors.append(g.factor)
        self.record_state()
        self.wave_walls.append(wall)
        self.wave_docs.append(int(m.get("docs_out", 0)))
        self.wave_stages.append(sm)
        found = any(r["doc_id"] == probe_doc for r in res["results"])
        self.op(found, f"wave {w.number}: probe {term} not found")

    # -- serving phase ------------------------------------------------------------
    def serve_phase(self):
        t0 = time.perf_counter()
        order = gen.query_stream(self.seed + 2, self.pool, 100_000)
        self.closed_samples = self.closed_loop(order, self.seconds)
        self.phase_s["serve"] = time.perf_counter() - t0

    # -- verification (untimed) ---------------------------------------------------
    def verify(self):
        t0 = time.perf_counter()
        memo: dict = {}
        oracles = {k: oracle.SnapshotOracle(self.index["dir"], s.gens,
                                            s.deleted, memo)
                   for k, s in self.states.items()}
        for o in oracles.values():
            self.op(o.duplicate_urls() == 0, "a url is committed twice")
        for s in self.open_samples + self.closed_samples:
            if s.hits is None:  # raised: counted as failed when it did
                self.attempted += 1
                continue
            q = self.pool[s.qidx]
            self.op(any(s.hits == oracles[e].expected(q) for e in set(s.engines)),
                    f"{q.mode} {q.text!r} k={q.k}: differs from oracle")
        self.phase_s["verify"] = time.perf_counter() - t0

    # -- metrics ------------------------------------------------------------------
    def end_to_end(self, raw: bool = False) -> dict:
        """The end-to-end metrics. Times (and the rates made from them) are
        at the host gauge's reference speed, set-up time excepted; with
        ``raw`` they are as the wall clock read them."""
        main = self.closed_samples
        lat = [s.latency_s * 1000.0 for s in main]
        self.n_samples = len(lat)
        if samples_beyond(len(lat), 99) < 10:
            raise RuntimeError(f"only {len(lat)} latency samples: p99 needs "
                               "at least ten beyond it")
        setup = (self.phase_s["session"] + self.phase_s["materialize"]
                 + self.phase_s["warm"] + self.phase_s["serving_open"])
        setup += self.index["wall"]  # the pre-built index is set-up
        one = lambda f: 1.0 if raw else f  # noqa: E731
        build_f = one(self.index["factor"])
        wave_f = [one(f) for f in self.wave_factors]
        loop_f = one(self.loop_gauge.factor)
        return {
            "setup_s": (setup, "s"),
            "build_docs_per_s": (
                self.index["docs"] / (self.index["wall"] * build_f), "1/s"),
            "ingest_docs_per_s": (sum(self.wave_docs) / sum(
                w * f for w, f in zip(self.wave_walls, wave_f)), "1/s"),
            "freshness_s": (statistics.median(
                s * f for s, f in zip(self.freshness, wave_f)), "s"),
            "query_p50_ms": (loop_f * windowed(main, lambda w, _: pct(
                [s.latency_s * 1000.0 for s in w], 50)), "ms"),
            "query_p99_ms": (loop_f * pct(lat, 99), "ms"),
            "queries_per_s": (windowed(main, lambda w, span: len(w) / span)
                              / loop_f, "1/s"),
            "index_bytes_per_input_byte": (
                probes.dir_bytes(self.index["dir"]) / self.input_bytes,
                "B/B"),
            "peak_rss_mb": (probes.peak_rss_mb(), "MB"),
        }


def windowed(samples: list, fn) -> float:
    """Median over WINDOWS equal time windows of ``fn(window, seconds)``: a
    burst of load from outside that hits one window moves it less than a
    figure pooled over the whole loop."""
    t0 = min(s.at for s in samples)
    span = (max(s.at for s in samples) - t0) / WINDOWS or 1e-9
    parts = [[] for _ in range(WINDOWS)]
    for s in samples:
        parts[min(int((s.at - t0) / span), WINDOWS - 1)].append(s)
    return statistics.median(fn(w, span) for w in parts if w)


def _doc_id(url: str) -> int:
    from baram_spark.textproc.extract import doc_id_from_ids, extract_ids

    oid, aid = extract_ids(url)
    return doc_id_from_ids(oid, aid)
