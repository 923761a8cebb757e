"""The workloads. Each drives only public entry points:
``session.get_spark``, ``writer.cluster_write``, ``Lakeshack.update_metastore``
/ ``query`` / ``query_agg`` / ``status``, ``ParquetStatsBackend.store_files``
and ``operators.pipeline.clean_corpus``.

A workload object owns its inputs and Spark objects; ``setup()`` writes the
lake, indexes it and warms up;
``window()`` runs closed-loop ops for a fixed time and returns a
:class:`Window`. Every op is checked against the oracle; an exception or a
wrong result counts as a failed op.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import core, inputs
from perfbench.inputs import KEY, INDEXED, Op

@dataclass
class Window:
    """What one measured window did."""

    wall_s: float = 0.0
    #: Tracer clock at the window's start.
    started: float = 0.0
    latencies: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    rows: dict[str, int] = field(default_factory=dict)
    #: (kind, Lakeshack.status() after the op, rows returned)
    statuses: list[tuple[str, dict, int]] = field(default_factory=list)
    job_groups: list[tuple[str, str]] = field(default_factory=list)
    driver_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    errors: list[str] = field(default_factory=list)
    docs_out: list[int] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, kind: str, seconds: float | None, ok: bool, *, rows: int = 0,
               status: dict | None = None, error: str | None = None) -> None:
        """Count one op; ``seconds`` is None when it raised."""
        with self._lock:
            self.attempted += 1
            if seconds is not None:
                self.latencies.setdefault(kind, []).append(seconds)
            self.rows[kind] = self.rows.get(kind, 0) + rows
            if status is not None:
                self.statuses.append((kind, status, rows))
            if not ok:
                self.failed += 1
                if error is not None and len(self.errors) < 5:
                    self.errors.append(error)


class Session:
    """The Spark session plus the harness state every workload shares."""

    def __init__(self, workdir: str, tracer: core.Tracer) -> None:
        self.workdir = workdir
        self.tracer = tracer
        self.cores = len(os.sched_getaffinity(0))
        from lakeshack_spark.session import get_spark

        with tracer.span("op.session_start", op_id=-1):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                self.spark = get_spark(
                    app_name="perfbench",
                    master=f"local[{self.cores}]",
                    shuffle_partitions=max(self.cores, 4),
                )
            self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self._op_ids = iter(range(1 << 62))
        self._op_lock = threading.Lock()

    def next_op_id(self) -> int:
        with self._op_lock:
            return next(self._op_ids)

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def stop(self) -> None:
        gateway = self.sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Workload:
    """Shared set-up and the op loop; subclasses define the ops."""

    name = ""

    def __init__(self, sess: Session, seed: int, scale: inputs.Scale) -> None:
        self.sess = sess
        self.seed = seed
        self.scale = scale
        self.index_s = 0.0
        self.warmup_s = 0.0
        self.warmup = Window()

    @property
    def tracer(self) -> core.Tracer:
        return self.sess.tracer

    # -- set-up

    #: Set by subclasses: the source rows and how the lake lays them out.
    source: pa.Table
    cluster_column = KEY
    optional_columns: tuple[str, ...] = INDEXED
    n_files = 0

    def warm(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """One clustered write of the source rows, the metastore index, then
        warm-up ops."""
        from lakeshack_spark.writer import cluster_write

        src = self.sess.path("src.parquet")
        pq.write_table(self.source, src)
        self.lake = self.sess.path("lake")
        with self.tracer.span("op.setup", op_id=self.sess.next_op_id()):
            t0 = time.perf_counter()
            with self.tracer.span("writer.cluster_write"):
                cluster_write(self.sess.spark.read.parquet(src), self.lake,
                              self.cluster_column, n_files=self.n_files)
            self.write_s = time.perf_counter() - t0
        self.store_path = self.sess.path("store")
        with self.tracer.span("op.setup", op_id=self.sess.next_op_id()):
            t0 = time.perf_counter()
            self.shack = self.new_shack()
            with self.tracer.span("metastore.update"):
                self.shack.update_metastore()
            self.index_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.warm()
        self.warmup_s = time.perf_counter() - t0

    def setup_s(self) -> float:
        """Lake write, index build and warm-up. Session start is left out: it
        is JVM start-up noise, reported as ``session.start_s``."""
        return self.write_s + self.index_s + self.warmup_s

    def new_shack(self):
        """A Lakeshack over the lake and the current store."""
        from lakeshack_spark.engine import Lakeshack

        return Lakeshack(self.sess.spark, self.lake, self.cluster_column,
                         self.optional_columns, store_path=self.store_path)

    # -- ops

    def begin_op(self, kind: str, win: Window) -> int:
        """A fresh op id; when tracing, the op's Spark jobs are tagged with
        a job group (thread-local under pinned threads) to count them."""
        op_id = self.sess.next_op_id()
        if self.tracer.enabled:
            group = f"perfbench-{op_id}"
            self.sess.sc.setJobGroup(group, kind)
            win.job_groups.append((kind, group))
        return op_id

    def run_op(self, shack, op: Op, win: Window) -> None:
        """Execute one lookup or aggregate op, time it and check it."""
        op_id = self.begin_op(op.kind, win)
        try:
            with self.tracer.span(f"op.{op.kind}", op_id=op_id):
                t0 = time.perf_counter()
                if op.kind == "agg":
                    with self.tracer.span("engine.query_agg"):
                        df = shack.query_agg(op.clauses(), ["l_shipdate"])
                    with self.tracer.span("engine.exec"):
                        result = df.collect()[0]
                else:
                    with self.tracer.span("engine.query"):
                        df = shack.query(op.keys, op.clauses(), columns=op.columns)
                    with self.tracer.span("engine.exec"):
                        result = df.toArrow()
                seconds = time.perf_counter() - t0
        except Exception:
            win.record(op.kind, None, False, error=traceback.format_exc())
            return
        if op.kind == "agg":
            rows = 0
            got = (result["row_count"], result["min_l_shipdate"], result["max_l_shipdate"])
        else:
            rows = result.num_rows
            got = inputs.checksum(result)
        ok = got == op.expected
        win.record(op.kind, seconds, ok, rows=rows, status=shack.status(),
                   error=None if ok else
                   f"{op.kind} {op.keys[:8]} {op.clauses()}: got {got}, want {op.expected}")

    def loop(self, ops: list[Op], cursor: list[int], deadline: float,
             clients: list, win: Window, run=None) -> None:
        """Closed loop: each client takes the next op once its previous op
        finished, until the deadline or the op list runs out."""
        run = run or self.run_op
        lock = threading.Lock()

        def client(shack) -> None:
            while time.perf_counter() < deadline:
                with lock:
                    if cursor[0] >= len(ops):
                        return
                    op = ops[cursor[0]]
                    cursor[0] += 1
                run(shack, op, win)

        threads = [threading.Thread(target=client, args=(s,), daemon=True)
                   for s in clients]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def window(self, seconds: float) -> Window:
        win = Window(started=self.tracer.now())
        cpu0, jvm0 = time.process_time(), core.cpu_seconds(self.sess.jvm_pid)
        t0 = time.perf_counter()
        self.measure(t0 + seconds, win)
        win.wall_s = time.perf_counter() - t0
        win.driver_cpu_s = time.process_time() - cpu0
        win.jvm_cpu_s = core.cpu_seconds(self.sess.jvm_pid) - jvm0
        return win

    def measure(self, deadline: float, win: Window) -> None:
        raise NotImplementedError

    # -- metrics

    def headline(self, win: Window) -> dict[str, float]:
        """``op_p50_ms`` and ``items_per_s`` for this workload."""
        raise NotImplementedError

    def detail(self, win: Window) -> dict[str, tuple[float, str]]:
        """This workload's own metrics, printed above the result line, by name
        with units."""
        raise NotImplementedError

    def store_files(self) -> int:
        return len(self.shack.metastore.backend.store_files())


# ----------------------------------------------------------- point lookups


# Both helpers return 0 for an empty sample: a run whose ops all raised
# still prints its (failed) result.
def _ms(values) -> float:
    return core.median(values) * 1e3 if values else 0.0


def _per(amount: float, seconds: float) -> float:
    return amount / seconds if seconds else 0.0


def _tail(values) -> tuple[float, float] | None:
    t = core.tail_percentile(values)
    return None if t is None else (t[0], t[1] * 1e3)


class PointLookup(Workload):
    """Closed-loop clients, each with its own Lakeshack over the shared
    store, sending Zipf-skewed 1-8 key IN-list lookups; one op in
    ``inputs.AGG_EVERY`` is a range aggregate instead."""

    name = "point_lookup"
    N_OPS = 4_000
    #: Two clients leave the Spark task threads and the JIT compiler cores
    #: of their own on a 4-core machine. With four, the lookups' Python
    #: threads and Spark's task threads oversubscribe the cores: latency
    #: was still falling a minute into the run as JIT compilation starved.
    CLIENTS = 2
    #: Lookup latency falls by about 40% over a fresh JVM's first ~200
    #: ops as the JIT compiles Spark's planning paths; these untimed ops
    #: take the steepest part of that out of the window.
    WARM_OPS_PER_CLIENT = 48

    def __init__(self, sess, seed, scale) -> None:
        super().__init__(sess, seed, scale)
        self.source, absent = inputs.make_lineitem(seed, scale.lake_rows)
        self.oracle = inputs.LineitemOracle(self.source)
        domain = int(max(self.oracle.keys.max(), absent.max(initial=0))) + 1
        self.n_files = scale.lake_files
        self.ops = inputs.point_ops(seed, self.oracle, absent, domain, self.N_OPS)
        self.cursor = [0]
        self.n_clients = min(self.CLIENTS, sess.cores)

    def warm(self) -> None:
        self.clients = [self.shack] + [
            self.new_shack() for _ in range(self.n_clients - 1)
        ]
        n = self.WARM_OPS_PER_CLIENT * self.n_clients
        self.loop(self.ops[:n], [0], float("inf"), self.clients, self.warmup)
        self.cursor[0] = n

    def measure(self, deadline, win) -> None:
        self.loop(self.ops, self.cursor, deadline, self.clients, win)

    def headline(self, win):
        lat = [x for xs in win.latencies.values() for x in xs]
        return {"op_p50_ms": _ms(lat), "items_per_s": _per(len(lat), win.wall_s)}

    def detail(self, win):
        lat = win.latencies.get("lookup", [])
        aggs = win.latencies.get("agg", [])
        out = {"lookup_p50_ms": (_ms(lat), "ms"),
               "lookups_per_s": (_per(len(lat), win.wall_s), "ops/s"),
               "lookups": (len(lat), "count"),
               "agg_p50_ms": (_ms(aggs), "ms"),
               "aggs": (len(aggs), "count"),
               "clients": (self.n_clients, "count")}
        tail = _tail(lat)
        if tail:
            out[f"lookup_p{tail[0]:g}_ms"] = (tail[1], "ms")
        return out


# ------------------------------------------------------------------ corpus


class CorpusClean(Workload):
    """Repeated clean_corpus passes over a seed-chosen 90% of the corpus's
    sources, read through a Lakeshack query. Each result is unpersisted
    before the next pass, so no pass reuses another's cache.

    Passes run without MinHash near-dedup: with it a pass costs 7-15 s on
    a 4-core machine whatever the corpus size (about 38 Spark jobs), so a
    window holds one pass and run-to-run spread reads 0.5. Without it a
    pass (text signals, PII masking, exact dedup) takes about 1.6 s over
    4,000 docs and 2.2 s over 12,000 on 4 cores: mostly a fixed per-pass
    cost, so the smaller corpus fits about 9 passes in a 14 s window."""

    name = "corpus_clean"
    #: Passes keep getting faster over a fresh JVM's first 8 or so (JIT and
    #: codegen): 3.1 s falling to 2.2 s at 12,000 docs. After this many
    #: untimed passes the window starts on the plateau.
    WARM_PASSES = 7

    def __init__(self, sess, seed, scale) -> None:
        super().__init__(sess, seed, scale)
        self.source = inputs.make_corpus(seed, scale.corpus_docs, scale.corpus_sources)
        self.cluster_column, self.optional_columns = "source", ()
        self.n_files = scale.corpus_sources
        self.sources = inputs.corpus_sources(seed, scale.corpus_sources)
        mask = np.isin(self.source.column("source").to_numpy(zero_copy_only=False),
                       self.sources)
        self.input_ids = self.source.column("doc_id").to_numpy()[mask]
        self.texts = dict(zip(self.source.column("doc_id").to_pylist(),
                              self.source.column("text").to_pylist()))
        self.reference: tuple[int, str] | None = None

    def run_pass(self, _client, _op, win: Window) -> None:
        from lakeshack_spark.operators.pipeline import CleanConfig, clean_corpus

        op_id = self.begin_op("clean", win)
        try:
            with self.tracer.span("op.clean", op_id=op_id):
                t0 = time.perf_counter()
                with self.tracer.span("engine.query"):
                    docs = self.shack.query(self.sources, n_records_max=None)
                status = self.shack.status()
                with self.tracer.span("operators.clean_corpus"):
                    out = clean_corpus(docs, CleanConfig(near_dedup=False))
                with self.tracer.span("engine.exec"):
                    ids = out.select("doc_id").toArrow().column(0).to_numpy()
                seconds = time.perf_counter() - t0
            out.unpersist()
        except Exception:
            win.record("clean", None, False, error=traceback.format_exc())
            return
        ids = np.sort(ids)
        got = (len(ids), hashlib.sha256(ids.tobytes()).hexdigest())
        error = self.check(ids, got)
        win.record("clean", seconds, error is None, rows=len(self.input_ids),
                   status=status, error=error)
        win.docs_out.append(len(ids))

    def check(self, ids: np.ndarray, got: tuple[int, str]) -> str | None:
        """Every pass must return the first pass's survivors; survivors
        must come from the queried sources and have distinct texts."""
        if self.reference is None:
            self.reference = got
        if got != self.reference:
            return f"clean pass: got {got}, first pass gave {self.reference}"
        if not len(ids) or not np.isin(ids, self.input_ids).all():
            return "clean pass: survivors outside the queried sources"
        if len({self.texts[int(i)] for i in ids}) != len(ids):
            return "clean pass: exact duplicates survived"
        return None

    def warm(self) -> None:
        for _ in range(self.WARM_PASSES):
            self.run_pass(None, None, self.warmup)

    def measure(self, deadline, win) -> None:
        while time.perf_counter() < deadline:
            self.run_pass(None, None, win)

    def headline(self, win):
        lat = win.latencies.get("clean", [])
        return {"op_p50_ms": _ms(lat),
                "items_per_s": _per(win.rows.get("clean", 0), sum(lat))}

    def detail(self, win):
        lat = win.latencies.get("clean", [])
        return {"clean_pass_p50_ms": (_ms(lat), "ms"),
                "corpus_docs_per_s": (_per(win.rows.get("clean", 0), sum(lat)), "docs/s"),
                "passes": (len(lat), "count"),
                "docs_in": (len(self.input_ids), "count"),
                "docs_out": (self.reference[0] if self.reference else 0, "count")}


WORKLOADS = {w.name: w for w in (PointLookup, CorpusClean)}
