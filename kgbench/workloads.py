"""The two workloads. Each drives the engine's public API only:
``KgEngine.build`` / ``load_ntriples`` / ``append`` for writes and the
HTTP ``SparqlService`` for reads.

A round is one write followed by one read set (a lookup, a join and an
aggregate query, sent one after another by one client). Only the write
and the reads are timed; generating inputs, checking outputs and
resetting the store happen between timed sections.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import statistics
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

from kgbench import checks, inputs, procs

BUILD_CONVS = 1500
NQ_BASE_CONVS = 1000
NQ_NOTES = 200
NQ_MALFORMED_SHARE = 0.01
SEED_SLICE_CONVS = 150
FRESH_CONVS = 250
REOFFER_CONVS = 50  # a sixth of every append slice is already stored
RESET_EVERY = 2  # append rounds between resets of the store to its base
READ_SETS = 2  # read sets after every measured write


@dataclass
class Op:
    """One timed write and the read set that followed it."""

    wall_s: float
    quads: int
    turns: int
    cpu_s: float  # process tree, JIT compiler threads left out
    worker_cpu_s: float
    jit_cpu_s: float
    store_bytes: int
    store_quads: int
    files_added: int
    distinct_terms: int
    reads: list = field(default_factory=list)  # (Query, latency_s, rows, span)
    stats: dict = field(default_factory=dict)
    root: object = None  # trace span of the write


class NoTrace:
    def span(self, name, layer="bench"):
        return contextlib.nullcontext()


def store_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


class Workload:
    """Shared set-up, timing and bookkeeping. A subclass provides
    ``prepare`` (one preparation pass, returns its timed seconds),
    ``warm_op`` (one warm-up write) and ``round`` (one measured round,
    returns its timed seconds)."""

    prep_passes = 2
    warm_ops = 1

    def __init__(self, spark, scratch: str, seed: int, tracer=None):
        from hbase_rdf_spark.engine import KgEngine
        from hbase_rdf_spark.service import SparqlService
        from hbase_rdf_spark.sources.synthetic import build_gazetteer

        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.tracer = tracer or NoTrace()
        self.store = os.path.join(scratch, "store")
        self.rng = random.Random(seed * 31 + 7)
        self.gaz = spark.createDataFrame(
            build_gazetteer(), "alias string, entity_id string, kind string"
        ).select("alias", "entity_id")
        self.engine = KgEngine(spark, self.store)
        self.service = SparqlService(self.engine, port=0)
        self.port = self.service.start()
        self.problems: list[str] = []
        self.ops: list[Op] = []
        self.failed = 0
        self.attempted = 0
        self.prep_walls: list[float] = []
        self.warm_walls: list[float] = []
        self.warm_s = 0.0
        self.setup_roots: list = []

    def close(self) -> None:
        self.service.stop()

    # -- set-up and measurement ------------------------------------------
    def setup(self) -> None:
        """``prep_passes`` preparation passes, then ``warm_ops`` warm-up
        writes on the same input shape."""
        for i in range(self.prep_passes):
            self.prep_walls.append(self.prepare(i))
        t0 = time.perf_counter()
        for i in range(self.warm_ops):
            self.warm_walls.append(self.warm_op(i))
        self.warm_s = time.perf_counter() - t0

    @property
    def setup_s(self) -> float:
        """Median preparation pass plus the whole warm-up."""
        return statistics.median(self.prep_walls) + self.warm_s

    def measure(self, seconds: float, min_rounds: int = 1) -> None:
        """Rounds until their timed sections add up to ``seconds``."""
        timed, i = 0.0, 0
        while i < min_rounds or timed < seconds:
            timed += self.round(i)
            i += 1

    # -- reads -------------------------------------------------------------
    def _http(self, text: str) -> tuple[int, dict | None]:
        body = urllib.parse.urlencode({"query": text}).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.port}/sparql", data=body,
            headers={"Accept": "application/sparql-results+json",
                     "Content-Type": "application/x-www-form-urlencoded"})
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as ex:
            return ex.code, None
        except (urllib.error.URLError, OSError, ValueError):
            return 0, None  # no answer: counted as a failed read

    def read_set(self, sets: int = 1) -> list[tuple]:
        """``sets`` timed read sets; returns (query, latency_s, status,
        payload, span) per query."""
        out = []
        for q in [q for _ in range(sets) for q in inputs.read_set(self.rng)]:
            with self.tracer.span(f"bench.read.{q.cls}") as sp:
                t0 = time.perf_counter()
                status, payload = self._http(q.text)
                lat = time.perf_counter() - t0
            out.append((q, lat, status, payload, sp))
        return out

    # -- writes ------------------------------------------------------------
    def timed_write(self, fn) -> tuple:
        """Run one write; returns (wall_s, cpu_s, worker_cpu_s, result,
        span, parquet files in the store before the write, jit_cpu_s).
        ``cpu_s`` leaves out the JIT compilers: their CPU falls from one
        write to the next as the JVM warms up, and how much of it lands
        in a measured write varies from run to run."""
        me = os.getpid()
        files0 = len(store_files(self.store))
        cpu0, w0, j0 = procs.tree_cpu(me)
        with self.tracer.span("bench.write") as sp:
            t0 = time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
        cpu1, w1, j1 = procs.tree_cpu(me)
        return (wall, cpu1 - cpu0 - (j1 - j0), w1 - w0, result, sp, files0,
                j1 - j0)

    def finish_round(self, write: tuple, reads: list, quads: int, turns: int,
                     check) -> float:
        """Check the write (``check(store)`` returns its problems) and
        every read against the store, record the round, and return its
        timed seconds. Each failed check is one failed operation."""
        wall, cpu, wcpu, stats, sp, files0, jit = write
        store = checks.Store(self.store)
        try:
            self.attempted += 1 + len(reads)
            bad = check(store)
            self.failed += bool(bad)
            good = []
            for q, lat, status, payload, rsp in reads:
                err = [f"{q.cls}: HTTP {status}"] if status != 200 else \
                    checks.check_query(store, q, payload)
                if err:
                    self.failed += 1
                    bad += err
                else:
                    good.append((q, lat, len(payload["results"]["bindings"]),
                                 rsp))
            self.problems += bad
            files = store_files(self.store)
            self.ops.append(Op(
                wall, quads, turns, cpu, wcpu, jit,
                sum(os.path.getsize(f) for f in files), store.count(),
                len(files) - files0, store.distinct_terms(), good, stats, sp))
        finally:
            store.close()
        return wall + sum(r[1] for r in reads)


# ---------------------------------------------------------------------------

class Build(Workload):
    """Bulk construction: transcript parquet → ``KgEngine.build``."""

    prep_passes, warm_ops = 3, 2

    def prepare(self, i: int) -> float:
        t0 = time.perf_counter()
        self.inp = inputs.transcripts(
            os.path.join(self.scratch, "in", "build"), self.seed, BUILD_CONVS,
            inputs.BUILD_OFFSET)
        self.df = self.spark.read.parquet(self.inp.path)
        return time.perf_counter() - t0

    def _build(self, tag: str) -> tuple:
        shutil.rmtree(self.store, ignore_errors=True)
        return self.timed_write(lambda: self.engine.build(
            self.df, self.gaz, input_sig=f"kgbench:{self.seed}:{tag}"))

    def warm_op(self, i: int) -> float:
        wall = self._build(f"warm{i}")[0]
        if i == 0:
            self.read_set()
        return wall

    def round(self, i: int) -> float:
        write = self._build(f"run{i}")
        reads = self.read_set(READ_SETS)
        stats = write[3]
        return self.finish_round(
            write, reads, stats["resolved_triples"], self.inp.turns,
            lambda store: checks.check_build(store, stats, self.inp.oracle))


class Append(Workload):
    """Incremental load: small transcript slices appended onto a store
    whose base came from an N-Quads dump, read back after each append."""

    def prepare(self, i: int) -> float:
        """Generate the dump and the seed slice, then load the dump into
        a fresh store through ``KgEngine.load_ntriples``."""
        from hbase_rdf_spark.engine import KgEngine

        t0 = time.perf_counter()
        d = os.path.join(self.scratch, "in")
        self.dump = inputs.nquads_dump(
            os.path.join(d, "nq"), self.seed, NQ_BASE_CONVS, NQ_NOTES,
            NQ_MALFORMED_SHARE)
        self.dump_file = os.path.join(self.dump.path, "dump.nq")
        self.seed_slice = inputs.transcripts(
            os.path.join(d, "seed_slice"), self.seed, SEED_SLICE_CONVS,
            inputs.SEED_SLICE_OFFSET)
        self.seed_df = self.spark.read.parquet(self.seed_slice.path)
        shutil.rmtree(self.store, ignore_errors=True)
        with self.tracer.span("bench.setup.load") as sp:
            KgEngine(self.spark, self.store).load_ntriples(
                self.dump_file, input_sig=f"nq:{self.seed}:{i}")
        self.setup_roots.append(sp)
        wall = time.perf_counter() - t0
        if i == 0:
            self.check_load()
        return wall

    def check_load(self) -> None:
        """The loaded base equals the dump's valid quads, and the
        engine's malformed-line counter matches the generator."""
        from hbase_rdf_spark.sources.ntriples import corrupt_count, parse_lines

        counted = corrupt_count(parse_lines(self.spark.read.text(self.dump_file)))
        store = checks.Store(self.store)
        try:
            self.problems += checks.check_nquads(store, self.dump, counted)
        finally:
            store.close()

    def warm_op(self, i: int) -> float:
        """Append the seed slice (the pool later slices re-offer) and
        read; the store is then saved as the base that rounds reset to."""
        t0 = time.perf_counter()
        self.engine.append(self.seed_df, self.gaz)
        wall = time.perf_counter() - t0
        self.read_set()
        self.snapshot = os.path.join(self.scratch, "snapshot")
        shutil.rmtree(self.snapshot, ignore_errors=True)
        shutil.copytree(self.store, self.snapshot)
        store = checks.Store(self.snapshot)
        self.base_quads = self.before = store.label_quads()
        store.close()
        return wall

    def _slice(self, i: int) -> inputs.Transcripts:
        rng = random.Random(self.seed * 1009 + i)
        again = set(rng.sample(sorted(self.seed_slice.conv_ids), REOFFER_CONVS))
        pdf = self.seed_slice.pdf
        return inputs.transcripts(
            os.path.join(self.scratch, "in", f"slice{i}"), self.seed,
            FRESH_CONVS, inputs.FRESH_OFFSET + i * FRESH_CONVS,
            extra=pdf[pdf["conv_id"].isin(again)])

    def round(self, i: int) -> float:
        if i and i % RESET_EVERY == 0:
            shutil.rmtree(self.store)
            shutil.copytree(self.snapshot, self.store)
            self.before = self.base_quads
        sl = self.last_slice = self._slice(i)
        df = self.spark.read.parquet(sl.path)
        write = self.timed_write(lambda: self.engine.append(df, self.gaz))
        reads = self.read_set(READ_SETS)
        stats = write[3]
        stats["slice_terms"] = _terms(sl.oracle)
        fresh = {f"conv:{c}" for c in sl.conv_ids - self.seed_slice.conv_ids}
        fresh_oracle = sl.oracle[("conv:" + sl.oracle["conv_id"]).isin(fresh)]

        def check(store: checks.Store) -> list[str]:
            bad = checks.check_append(store, self.before,
                                      stats["appended_quads"], fresh_oracle,
                                      fresh)
            self.before = store.label_quads()
            return bad

        return self.finish_round(write, reads, len(sl.oracle), sl.turns, check)


def _terms(oracle) -> int:
    """Distinct dictionary terms the oracle triples mention."""
    terms = set(oracle["subj"]) | set(oracle["pred"])
    terms |= {f"conv:{c}" for c in oracle["conv_id"]}
    terms |= {o for o, k in zip(oracle["obj"], oracle["obj_kind"]) if k != 2}
    return len(terms)


WORKLOADS = {"build": Build, "append": Append}
