"""The benchmark's workloads: one client, closed loop, against one store.

build_history  back-to-back full builds: input tables -> build_triples ->
               write_triples -> committed store, each read back whole and
               checked for oracle parity, then read back twice more (the
               timed reads). Runs every pipeline layer and the store's
               full-write path; the hot repo holds half the rows (skew).
               No SPARQL.
ingest_mixed   writes beside reads on a store built at set-up. Each step
               grows one or more repos by a commit, rebuilds their repo
               bucket (the store's overwrite unit) through
               write_triples_table's dynamic-overwrite branch and reads the
               new commit back with SPARQL point queries. After a fixed
               count of steps, the rest of the window goes to whole rounds
               of a seeded mix of SPARQL and canned queries, formatted by
               results_text. Runs
               the store's read and incremental-write paths, the SPARQL
               engine and the pipeline on small inputs.

Every operation is checked against the oracle; failed or wrong operations
are counted, never skipped. A traced run (trace=True) wraps each layer call
in a span and materialises each pipeline layer's output at its boundary.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from collections.abc import Callable
from contextlib import AbstractContextManager
from dataclasses import dataclass
from functools import reduce

import pandas as pd
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from git_prov_spark import queries, sparql
from git_prov_spark.fixtures import FILES_SCHEMA, commit_sha
from git_prov_spark.iri import py_agent_curie
from git_prov_spark.pipeline.agents import contributions, resolve_authors
from git_prov_spark.pipeline.build import build_triples
from git_prov_spark.pipeline.changelog import blobs, change_events
from git_prov_spark.pipeline.diffstats import with_diff_stats
from git_prov_spark.pipeline.statements import (
    activity_triples,
    agent_triples,
    association_triples,
    base_entity_triples,
    communication_triples,
    derivation_triples,
    enrich_with_ids,
    entity_triples,
    generation_triples,
    invalidation_triples,
    usage_triples,
)
from git_prov_spark.pipeline.versions import ensure_commit_seq, with_version_chain
from git_prov_spark.results import results_text
from git_prov_spark.store import (
    read_repo,
    read_triples,
    repo_bucket,
    write_triples,
    write_triples_table,
)

from .checks import Graph, expected, oracle_graphs, parse_results_json, sparql_text
from .inputs import (
    Layout,
    Request,
    RequestStream,
    Sizes,
    grow,
    ingest_plan,
    repo_tables,
)
from .env import cpu_steal_s, n_cores
from .tracing import Tracer

WORKLOADS = ("build_history", "ingest_mixed")

#: write_triples sizes its write stage as n_buckets x 128 tasks, whatever the
#: data: build_history keeps one bucket (its store has no overwrite unit to
#: exercise), ingest_mixed needs two so a rebuild leaves a bucket untouched
WORKLOAD_SIZES = {
    "build_history": Sizes(n_buckets=1),
    "ingest_mixed": Sizes(n_buckets=2),
}

TRIPLE_COLS = ["repo", "subj", "pred", "obj", "obj_type"]
#: schemas of fixtures.spark_gen_files / spark_gen_dims
INPUT_SCHEMAS = (
    FILES_SCHEMA,
    "repo string, commit string, parents array<string>, author_login string, "
    "author_name string, author_email string, authored_at timestamp, "
    "message string, commit_seq int",
    "repo string, login string, type string, name string, email string, "
    "avatar_url string",
)

STATEMENT_KINDS = (
    "activity", "agent", "association", "communication", "entity",
    "base_entity", "generation", "invalidation", "usage", "derivation",
)
SPARQL_TEMPLATES = {"bgp_author_files", "agg_per_agent", "optional_filter",
                    "path_ancestors", "cross_graph", "new_activity", "new_versions"}
#: a write costs 5-15 s here: a fixed count per run, not "while one fits",
#: so every run's write median is over the same samples. The first write
#: after set-up is still warming up; with three, the median is a warm one.
#: An ingest step costs a write plus its checks and reads, so two fit.
WRITES_PER_RUN = {"build_history": 3, "ingest_mixed": 2}
#: a write during which the hypervisor took more than this share of the
#: machine's CPU time (steal; about 0.3% on a quiet host) was slowed from
#: outside the program: steal comes with a busy host, and such writes ran
#: ~20% slower. While they are not a minority, a run makes another write,
#: up to MAX_EXTRA_WRITES more, so that the median is an undisturbed one
DISTURBED_STEAL_SHARE = 0.01
MAX_EXTRA_WRITES = 2
#: build_history's timed reads follow each write's check read, so they are
#: spread over the run like the writes (the host's speed drifts within one)
SCANS_PER_WRITE = 2


@dataclass
class Op:
    kind: str          # "write" or "read"
    what: str          # "build", "ingest" or a read template
    seconds: float
    ok: bool
    result_rows: int = 0
    span: int | None = None    # root span of a traced read
    mode: str = ""             # traced write: "coarse" or "layers"
    timed: bool = False        # a read that makes read_p50_ms: none that
                               # directly follows a write, which is slower
    steal_share: float = 0.0   # write: share of CPU time stolen meanwhile


def _mat(df):
    """Materialise a layer's output at its boundary (traced builds only)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def bucket_scorer(spark):
    """names -> {name: repo bucket}, by `store.repo_bucket` in one query.
    The names go in as a pandas frame (Arrow): a list of tuples would start
    Python workers, which costs seconds of set-up in a cold session."""
    def bucket_of(names: list[str], n_buckets: int) -> dict[str, int]:
        df = spark.createDataFrame(pd.DataFrame({"repo": names}), "repo string")
        return dict(df.select("repo", repo_bucket(n_buckets)).collect())
    return bucket_of


def layered_build(files, commits, contributors,
                  span: Callable[[str], AbstractContextManager],
                  mat: Callable = _mat):
    """A mirror of `build_triples`' dataflow, called layer by layer: one
    span per layer, each layer's output materialised by `mat` at its
    boundary. Per-layer figures describe this mirror, so it must track
    `build_triples` (a test compares their outputs).
    Returns (triples, counts)."""
    stats: dict = {}
    commits = ensure_commit_seq(commits)
    with span("changelog"):
        events, stats["changelog.events"] = mat(change_events(files, commits))
        blob_df, _ = mat(blobs(files))
    with span("versions"):
        events, _ = mat(with_version_chain(events))
    events = enrich_with_ids(events)
    events_ts = events.join(
        commits.select("repo", "commit", "authored_at"), ["repo", "commit"])
    modified = events_ts.where(F.col("status") == "modified")
    with span("diffstats"):
        modified_stats, _ = mat(with_diff_stats(modified, blob_df))
    with span("agents"):
        resolved, _ = mat(resolve_authors(commits, contributors))
        contribs, _ = mat(contributions(resolved, contributors))
    builders = {
        "activity": (activity_triples, commits),
        "agent": (agent_triples, contribs),
        "association": (association_triples, resolved),
        "communication": (communication_triples, commits),
        "entity": (entity_triples, events),
        "base_entity": (base_entity_triples, events),
        "generation": (generation_triples, events_ts),
        "invalidation": (invalidation_triples, events_ts),
        "usage": (usage_triples, events_ts),
        "derivation": (derivation_triples, modified_stats),
    }
    parts = []
    with span("statements"):
        for kind, (fn, arg) in builders.items():
            with span(f"statements.{kind}"):
                part, stats[f"statements.{kind}.triples"] = mat(fn(arg))
            parts.append(part)
    # counts outside every span: they are not layer work
    stats["diffstats.modified"] = modified.count()
    stats["diffstats.content_pairs"] = (
        modified.select("content_sha", "prev_content_sha").distinct().count())
    return reduce(lambda a, b: a.unionByName(b), parts), stats


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _, names in os.walk(path) for n in names
               if n.endswith(".parquet"))


class Bench:
    def __init__(self, spark, work_dir: str, layout: Layout, seed: int, trace: bool):
        self.spark = spark
        self.layout = layout
        self.seed = seed
        self.nb = layout.sizes.n_buckets
        self.store = os.path.join(work_dir, "store")
        self.inputs = os.path.join(work_dir, "inputs")
        self.tracer = Tracer(spark.sparkContext) if trace else None
        self.ops: list[Op] = []
        self.graphs: dict[str, Graph] = {}
        self.build_stats: list[dict] = []    # counts of per-layer traced builds
        self.ingest_amplification: list[float] = []
        self.write_mb: list[float] = []
        self.read_overhead: list[float] = []   # traced / untraced time, per read

    # ------------------------------------------------------------------
    # set-up
    # ------------------------------------------------------------------

    def setup(self) -> None:
        """Input tables as parquet, then the initial full build (which is
        also the warm-up of every pipeline and store code path)."""
        self._tables = repo_tables(self.layout, self.layout.repos)
        for name, pdf, schema in zip(("files", "commits", "contributors"),
                                     self._tables, INPUT_SCHEMAS):
            self.spark.createDataFrame(pdf, schema).write.mode("overwrite").parquet(
                os.path.join(self.inputs, name))
        self._write(None)

    def compute_oracle(self) -> None:
        self.graphs = oracle_graphs(*self._tables)

    def _inputs(self, buckets: list[int] | None):
        tables = [self.spark.read.parquet(os.path.join(self.inputs, t))
                  for t in ("files", "commits", "contributors")]
        if buckets is not None:
            keep = repo_bucket(self.nb).isin(buckets)
            tables = [t.where(keep) for t in tables]
        return tables

    def _sink(self, triples, buckets: list[int] | None) -> None:
        if buckets is None:
            write_triples(triples, self.store, n_buckets=self.nb)
        else:
            write_triples_table(triples, self.spark, path=self.store, n_buckets=self.nb)

    def _write(self, buckets: list[int] | None) -> None:
        self._sink(build_triples(*self._inputs(buckets)), buckets)

    @property
    def expected_total(self) -> int:
        return sum(len(g.triples) for g in self.graphs.values())

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    def _traced_coarse(self, req: str, buckets) -> None:
        t = self.tracer
        with t.span("build", req):
            inputs = self._inputs(buckets)
            with t.span("build.plan", req):
                triples = build_triples(*inputs)
            with t.span("build.run", req):
                self._sink(triples, buckets)

    def _traced_layers(self, req: str, buckets) -> None:
        """The layer-by-layer mirror of build_triples, then the sink."""
        t = self.tracer
        cached = []

        def mat(df):
            df, n = _mat(df)
            cached.append(df)
            return df, n

        with t.span("build.traced", req):
            triples, stats = layered_build(
                *self._inputs(buckets), lambda name: t.span(name, req), mat)
            with t.span("store.write", req):
                self._sink(triples, buckets)
        for df in cached:
            df.unpersist()
        self.build_stats.append(stats)

    def write(self, what: str, buckets: list[int] | None) -> Op:
        """One write, timed: new input -> committed store. A traced run
        alternates the coarse span (real build_triples call) and the
        per-layer decomposition, so both are measured."""
        req = f"{what}-{sum(o.kind == 'write' for o in self.ops)}"
        mode = ""
        if self.tracer is not None:
            mode = ("coarse", "layers")[sum(o.mode != "" for o in self.ops) % 2]
        steal0 = cpu_steal_s()
        t0 = time.perf_counter()
        try:
            if mode == "coarse":
                self._traced_coarse(req, buckets)
            elif mode == "layers":
                self._traced_layers(req, buckets)
            else:
                self._write(buckets)
            ok = True
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            ok = False
        seconds = time.perf_counter() - t0
        op = Op("write", what, seconds, ok, mode=mode,
                steal_share=(cpu_steal_s() - steal0) / (seconds * n_cores()))
        self.ops.append(op)
        self.write_mb.append(self._written_bytes(buckets) / 2**20)
        return op

    def _written_bytes(self, buckets) -> int:
        if buckets is None:
            return parquet_bytes(self.store)
        return sum(parquet_bytes(os.path.join(self.store, f"repo_bucket={b}"))
                   for b in buckets)

    def check_buckets(self, buckets: list[int]) -> bool:
        """Every repo in the rewritten buckets holds exactly its oracle graph."""
        rows = (read_triples(self.spark, self.store)
                .where(F.col("repo_bucket").isin(buckets))
                .select(*TRIPLE_COLS).collect())
        want = set().union(*(self.graphs[r].triples for b in buckets
                             for r in self.layout.bucket_repos(b)))
        return {tuple(r) for r in rows} == want

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------

    def _triples(self, req: Request):
        if req.repo is None:
            return read_triples(self.spark, self.store)
        return read_repo(self.spark, self.store, req.repo, self.nb)

    def _plan(self, req: Request, triples, parse_span=None):
        if req.template in SPARQL_TEMPLATES:
            text = sparql_text(req.template, req.repo, req.arg)
            if parse_span is not None:
                with parse_span():
                    sparql.parse(text, repo=req.repo)
                return sparql.execute(triples, text, repo=req.repo)
            return sparql.query(triples, text, repo=req.repo)
        if req.template == "files_by_author":
            return queries.files_by_author(triples, req.repo, py_agent_curie(req.arg))
        if req.template == "version_chain":
            return queries.version_chain(triples, req.repo, req.arg)
        if req.template == "blame":
            return queries.blame(triples, req.repo)
        raise ValueError(req.template)

    def _read_untraced(self, req: Request) -> str:
        return results_text(self._plan(req, self._triples(req)), "json")

    def _read_traced(self, req: Request, rid: str):
        t = self.tracer
        with t.span("read", rid) as root:
            with t.span("store.list", rid):
                triples = self._triples(req)
            with t.span("sparql.plan", rid):
                df = self._plan(req, triples, lambda: t.span("sparql.parse", rid))
            with t.span("sparql.exec", rid):
                df, _ = _mat(df)
            with t.span("results.format", rid):
                text = results_text(df, "json")
            df.unpersist()
        return text, root.id

    def read(self, req: Request) -> Op:
        want = expected(req.template, req.repo, req.arg, self.graphs)
        rid = f"r{sum(o.kind == 'read' for o in self.ops)}-{req.template}"
        span_id = None
        t0 = time.perf_counter()
        try:
            text = self._read_untraced(req)
            seconds = time.perf_counter() - t0
            got = parse_results_json(text)
            ok = got == want
            if self.tracer is not None:  # same request again, traced
                t1 = time.perf_counter()
                text, span_id = self._read_traced(req, rid)
                self.read_overhead.append((time.perf_counter() - t1) / seconds)
                ok = ok and parse_results_json(text) == want
        except Exception:
            traceback.print_exc()
            seconds, ok, got = time.perf_counter() - t0, False, {}
        op = Op("read", req.template, seconds, ok, sum(got.values()), span_id)
        self.ops.append(op)
        return op

    def scan_store(self) -> Op:
        """build_history's read: the whole store read back and checked for
        exact parity with every repo's oracle graph (the build's check)."""
        rid = f"r{sum(o.kind == 'read' for o in self.ops)}-scan"
        want = set().union(*(g.triples for g in self.graphs.values()))
        span_id = None
        t0 = time.perf_counter()
        try:
            rows = read_triples(self.spark, self.store).select(*TRIPLE_COLS).collect()
            seconds = time.perf_counter() - t0
            ok = len(rows) == len(want) and {tuple(r) for r in rows} == want
            if self.tracer is not None:
                t1 = time.perf_counter()
                with self.tracer.span("scan", rid) as root:
                    with self.tracer.span("store.list", rid):
                        df = read_triples(self.spark, self.store)
                    with self.tracer.span("store.scan", rid):
                        rows = df.select(*TRIPLE_COLS).collect()
                span_id = root.id
                self.read_overhead.append((time.perf_counter() - t1) / seconds)
                ok = ok and {tuple(r) for r in rows} == want
        except Exception:
            traceback.print_exc()
            seconds, ok, rows = time.perf_counter() - t0, False, []
        op = Op("read", "scan", seconds, ok, len(rows), span_id)
        self.ops.append(op)
        return op

    # ------------------------------------------------------------------
    # workloads
    # ------------------------------------------------------------------

    def run(self, workload: str, seconds: float) -> None:
        getattr(self, workload)(time.perf_counter() + seconds)

    def _another_write(self, workload: str) -> bool:
        """The planned count of writes, then more while disturbed writes
        (see DISTURBED_STEAL_SHARE) are not a minority."""
        writes = [o for o in self.ops if o.kind == "write"]
        planned = WRITES_PER_RUN[workload]
        if len(writes) < planned:
            return True
        disturbed = sum(o.steal_share > DISTURBED_STEAL_SHARE for o in writes)
        return 2 * disturbed >= len(writes) and len(writes) < planned + MAX_EXTRA_WRITES

    def build_history(self, deadline: float) -> None:
        """A set count of writes, each with its reads, not a deadline: a
        write takes about a third of the window, so the deadline would only
        decide whether a run makes one more read or not."""
        while self._another_write("build_history"):
            op = self.write("build", None)
            op.ok = op.ok and self.scan_store().ok
            for _ in range(SCANS_PER_WRITE):
                self.scan_store().timed = True

    def ingest_mixed(self, deadline: float) -> None:
        stream = RequestStream(self.layout, self.seed)
        self._read_untraced(stream.round()[0])  # warm the read path before timing
        plan = ingest_plan(self.layout, self.seed)
        while self._another_write("ingest_mixed"):
            self._ingest_step(next(plan))

        # the rest of the window in whole rounds, so every run's read median
        # is over the same mix: a round starts only if one as long as the
        # median round so far still ends in time, and there is at least one
        rounds: list[float] = []
        while not rounds or time.perf_counter() + statistics.median(rounds) <= deadline:
            t0 = time.perf_counter()
            for req in stream.round():
                self.read(req).timed = True
            rounds.append(time.perf_counter() - t0)

    def _ingest_step(self, step: list[tuple[str, int]]) -> None:
        """Grow, rebuild the touched buckets, check them, then read the new
        commit back."""
        grown = [r for r, _ in step]
        buckets = sorted({self.layout.bucket(r) for r in grown})
        added = self._land_commits(step)
        op = self.write("ingest", buckets)
        rewritten = [r for b in buckets for r in self.layout.bucket_repos(b)]
        self.ingest_amplification.append(
            sum(len(self.graphs[r].triples) for r in rewritten) / max(1, added))
        # read-after-write: grown repos changed, their bucket mates did not
        op.ok = op.ok and self.check_buckets(buckets)
        # a traced run makes each read twice, so it reads after its coarse
        # write only: the per-layer write adds no read-side information
        if op.mode == "layers":
            return
        head = self.layout.spec(grown[0]).n_commits - 1
        for t in ("new_activity", "new_versions"):
            self.read(Request(t, grown[0], str(head)))

    def _land_commits(self, step: list[tuple[str, int]]) -> int:
        """Append the new commits' rows to the input tables and refresh the
        oracle for the grown repos. Returns the number of triples added."""
        new_shas: set[str] = set()
        for repo, k in step:
            old = self.layout.spec(repo).n_commits
            grow(self.layout, repo, k)
            new_shas |= {commit_sha(repo, s) for s in range(old, old + k)}
        grown = [r for r, _ in step]
        files, commits, contributors = repo_tables(self.layout, grown)
        for name, pdf, schema in (("files", files, INPUT_SCHEMAS[0]),
                                  ("commits", commits, INPUT_SCHEMAS[1])):
            self.spark.createDataFrame(pdf[pdf["commit"].isin(new_shas)], schema) \
                .write.mode("append").parquet(os.path.join(self.inputs, name))
        before = sum(len(self.graphs[r].triples) for r in grown)
        self.graphs.update(oracle_graphs(files, commits, contributors))
        return sum(len(self.graphs[r].triples) for r in grown) - before

    # ------------------------------------------------------------------
    # metrics
    # ------------------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict:
        writes = [o.seconds for o in self.ops if o.kind == "write"]
        reads = [o.seconds * 1e3 for o in self.ops if o.kind == "read" and o.timed]
        size = parquet_bytes(self.store)
        ok = sum(o.ok for o in self.ops) / max(1, len(self.ops))
        return {
            "setup_s": (setup_s, "s"),
            "write_p50_s": (statistics.median(writes), "s"),
            "read_p50_ms": (statistics.median(reads), "ms"),
            "store_bytes_per_triple": (size / max(1, self.expected_total), "B"),
            "ok_frac": (ok, "frac"),
        }

    def report(self) -> dict:
        """Workload-specific latencies (build_s, ingest_p50_s, query_p50_ms,
        ...) with sample counts, printed before the result line."""
        def p50(xs):
            return statistics.median(xs) if xs else None

        w = [o for o in self.ops if o.kind == "write"]
        r = [o for o in self.ops if o.kind == "read"]
        out = {"writes": len(w), "reads": len(r),
               "disturbed_writes": sum(o.steal_share > DISTURBED_STEAL_SHARE for o in w),
               "failed_frac": sum(not o.ok for o in self.ops) / max(1, len(self.ops)),
               "ops": [[o.kind, o.what, o.seconds, o.ok, o.timed, o.steal_share]
                       for o in self.ops]}
        if any(o.what == "build" for o in w):
            b = p50([o.seconds for o in w])
            out.update(build_s=b, build_triples_per_s=self.expected_total / b)
        if any(o.what == "ingest" for o in w):
            out["ingest_p50_s"] = p50([o.seconds for o in w])
            ms = sorted(o.seconds * 1e3 for o in r)
            out["rw_query_p50_ms"] = p50(ms)
            mix = [o.seconds * 1e3 for o in r if not o.what.startswith("new_")]
            out["query_p50_ms"] = p50(mix)
            out["query_path_p50_ms"] = p50(
                [o.seconds * 1e3 for o in r if o.what == "path_ancestors"])
            # a percentile is reported only with >= 10 samples beyond it
            for q in (99, 95, 90, 75):
                if len(ms) * (100 - q) / 100 >= 10:
                    out[f"rw_query_p{q}_ms"] = statistics.quantiles(ms, n=100)[q - 1]
                    break
        return out
