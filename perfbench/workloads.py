"""The `ingest` and `serve` workloads.

Both drive the product path the way a user does, through the public
calls: `run_pipeline`, `search_corpus(...).collect()`, `cli eval`,
`cli forget` and the `availableNow` stream drain. Each reports every
end-to-end metric; they differ in the state the operations meet.

- `ingest` is the command-line shape: a fresh process, starting from an
  empty sink, state and index. Writes dominate: a cold run, a needle
  search, an edit batch and its refresh run, a no-op run, a drain of the
  edit batch, an eval batch, a second no-op run and drain, a forget, and
  a third drain.
- `serve` is the dashboard shape: one long-lived session whose corpus is
  ingested during setup. An eval batch, warm needle searches on the
  intact index with a drain after each, a no-op run, a forget of 2
  sources, the rewrite of those files and their refresh run, a second
  no-op run and a third drain.

The short operations repeat at points spread through the run and report
their median (the no-op run and the drain, and in `serve` the warm
search), so a burst of load on the host moves one sample rather than
the metric.

Each check runs outside the timed region. A failed or wrong operation
counts as failed and leaves no sample.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from urllib.parse import unquote

from corpus import Corpus, make_corpus, write_corpus

SPEC = """\
source:
  type: local_files
  config: {{path: "{data}", glob_pattern: "**/*.txt"}}
filters:
  - type: exact_dedup
  - type: quality
    config: {{min_tokens: 20, max_punct_ratio: 0.1, min_quality_score: 0.5}}
chunker:
  type: recursive_character
  config: {{chunk_size: 400, chunk_overlap: 40}}
embedder:
  type: hash
  config: {{dim: 64}}
sink:
  type: parquet
  config: {{path: "{sink}"}}
state_manager:
  type: parquet
  config: {{path: "{state}"}}
retriever:
  type: hybrid_rrf
  config:
    vector: {{path: "{index}/vec", n_cells: 8, nprobe: 2, rerank_m: 20}}
    lexical: {{path: "{index}/lex"}}
"""
CHUNK_SIZE, CHUNK_OVERLAP, K = 400, 40, 5
# warm searches per serve cycle
SEARCHES = 2
MISSING = "<missing from sink>"


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Outcome:
    samples: dict[str, list[float]] = field(default_factory=dict)
    jobs: dict[str, list[int]] = field(default_factory=dict)
    job_names: dict[str, list[list[str]]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    first_timed: float | None = None  # perf_counter at the first timed op
    notes: dict = field(default_factory=dict)


class Bench:
    """One workload run against one session."""

    def __init__(self, spark, work: str, seed: int, counters, tracer=None):
        from yaml_pipe_spark.operators.chunkers import recursive_split
        from yaml_pipe_spark.plans.config import load_config

        self.spark, self.work = spark, work
        self.counters, self.tracer = counters, tracer
        self.rng = random.Random(seed)
        self.corpus: Corpus = make_corpus(seed)
        self.data = os.path.join(work, "data")
        self.sink = os.path.join(work, "sink")
        self.cfg = os.path.join(work, "pipeline.yaml")
        with open(self.cfg, "w", encoding="utf-8") as f:
            f.write(SPEC.format(
                data=self.data, sink=self.sink,
                state=os.path.join(work, "state"),
                index=os.path.join(work, "index"),
            ))
        self.spec = load_config(self.cfg)
        self.current = dict(self.corpus.files)  # path -> text on disk
        write_corpus(self.data, self.current)
        self._split = recursive_split
        self.out = Outcome()
        self.jobs_seen: dict[int, object] = {}
        self.cycles = 0
        self.drains = 0

    # -- helpers -------------------------------------------------------
    def uri(self, rel: str) -> str:
        return "file:" + os.path.join(self.data, rel)

    def n_chunks(self, text: str) -> int:
        return len(self._split(text, CHUNK_SIZE, CHUNK_OVERLAP))

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def timed(self, op: str, fn, check=None, setup: bool = False):
        """Run one operation under the clock; `check(result)` runs after
        the clock stops. Returns the result, or None when it failed.
        Samples and job counts are kept per operation: an operation must
        run the same jobs each time it repeats within a run."""
        o = self.out
        o.attempted += 1
        if not setup and o.first_timed is None:
            o.first_timed = time.perf_counter()
        j0 = self.counters.next_job_id()
        if self.tracer:
            self.tracer.timed = not setup
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{op}"):
                res = fn()
            dt = time.perf_counter() - t0
        except Exception as e:  # the operation itself failed
            o.failed += 1
            o.problems.append(f"{op}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if self.tracer:
                self.tracer.timed = False
        j1 = self.counters.next_job_id()
        if self.tracer:
            self.jobs_seen.update(self.counters.jobs(j0, j1))
        try:
            if check is not None:
                check(res)
        except CheckFailed as e:
            o.failed += 1
            o.problems.append(f"{op}: wrong result: {e}")
            return None
        o.samples.setdefault(op, []).append(dt)
        o.jobs.setdefault(op, []).append(j1 - j0)
        o.job_names.setdefault(op, []).append(self.counters.describe(j0, j1))
        if op in ("cold", "refresh", "noop"):
            o.notes.setdefault("runs", []).append((res.n_loaded, res.n_changed))
        elif op == "forget":
            o.notes["rebuilds"] = o.notes.get("rebuilds", 0) + int(res["index_rebuilt"])
        return res

    # -- operations ----------------------------------------------------
    def run_pipeline(self):
        from yaml_pipe_spark.plans import pipeline

        return pipeline.run_pipeline(self.spark, self.spec)

    def search(self, query: str):
        from yaml_pipe_spark import search

        df = search.search_corpus(self.spark, self.spec, query, k=K)
        with self.span("search.collect"):
            return df.collect()

    def cli(self, *argv: str) -> dict:
        from yaml_pipe_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(list(argv) + ["-c", self.cfg])
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]} exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def drain(self) -> None:
        """One timed availableNow drain of the edit batch, through a
        fresh inbox, checkpoint and stream sink."""
        from yaml_pipe_spark.streaming import stream

        tag = f"d{self.drains}"
        self.drains += 1
        inbox = os.path.join(self.work, f"inbox-{tag}")
        os.makedirs(inbox)
        for rel, text in self.corpus.edits.items():
            with open(os.path.join(inbox, rel.replace("/", "_")), "w", encoding="utf-8") as f:
                f.write(text)
        out = os.path.join(self.work, f"stream-{tag}")
        ckpt = os.path.join(self.work, f"ckpt-{tag}")
        self.timed(
            "drain",
            lambda: stream.run_streaming_pipeline(
                self.spark, inbox, out, ckpt, chunk_size=CHUNK_SIZE,
                chunk_overlap=CHUNK_OVERLAP, embed_dim=64,
            ),
            lambda _: self.check_drain(out),
        )

    # -- checks --------------------------------------------------------
    def sink_rows(self) -> dict[str, int]:
        """Rows per source, from the parquet footers (no Spark job)."""
        import pyarrow.parquet as pq

        rows: dict[str, int] = {}
        for part in os.listdir(self.sink):
            if not part.startswith("source="):
                continue
            src = unquote(part[len("source="):])
            d = os.path.join(self.sink, part)
            n = sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
            if n:
                rows[src] = rows.get(src, 0) + n
        return rows

    def expected_rows(self, absent: set[str] = frozenset()) -> dict[str, int]:
        keep = set(self.current) - self.corpus.dropped - absent
        return {self.uri(p): self.n_chunks(self.current[p]) for p in keep}

    def check_sink(self, absent: set[str] = frozenset()) -> None:
        got, want = self.sink_rows(), self.expected_rows(absent)
        expect(got == want, f"sink holds {sum(got.values())} rows over "
               f"{len(got)} sources, expected {sum(want.values())} over {len(want)}")

    def check_run(self, loaded: int, changed: int, chunks: int):
        def check(r):
            expect(
                (r.n_loaded, r.n_changed, r.n_chunks) == (loaded, changed, chunks),
                f"run counted {(r.n_loaded, r.n_changed, r.n_chunks)}, "
                f"expected {(loaded, changed, chunks)}",
            )
            self.check_sink()
        return check

    def check_search(self, top: str):
        def check(rows):
            srcs = [r.source for r in rows]
            expect(len(rows) == K, f"{len(rows)} rows, expected {K}")
            expect(MISSING not in srcs, "a row is missing from the sink")
            expect(srcs[0] == top, f"ranked {srcs[0]} first, expected {top}")
        return check

    def check_drain(self, out: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(out, columns=["source"])
        want = sum(-(-len(x) // (CHUNK_SIZE - CHUNK_OVERLAP)) for x in self.corpus.edits.values())
        expect(t.num_rows == want, f"drain wrote {t.num_rows} rows, expected {want}")
        expect(len(set(t.column("source").to_pylist())) == len(self.corpus.edits),
               "drain missed a file")

    # -- shared steps --------------------------------------------------
    def eval_file(self) -> tuple[str, int]:
        """Seeded eval set: every needle, plus one sentence from each of
        as many plain documents."""
        c = self.corpus
        rows = [{"question": c.files[n], "expected_source": self.uri(n)} for n in c.needles]
        for p in self.rng.sample(c.normal, len(c.needles)):
            sent = self.rng.choice(c.files[p].split(". ")[1:-1])
            rows.append({"question": sent, "expected_source": self.uri(p)})
        path = os.path.join(self.work, "eval.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        return path, len(rows)

    def do_eval(self, path: str, n: int) -> None:
        def check(r):
            expect(r["total_questions"] == n, "eval lost questions")
            floor = 100.0 * len(self.corpus.needles) / n
            expect(r["hit_rate"] >= floor, f"hit_rate {r['hit_rate']} < {floor}")
            first = self.out.notes.setdefault("hit_rate", r["hit_rate"])
            expect(r["hit_rate"] == first, "hit_rate changed between cycles")

        self.timed("eval", lambda: self.cli("eval", path, "-k", str(K)), check)
        self.out.notes["eval_questions"] = n

    def forget_targets(self, rebuild: bool) -> list[str] | None:
        """Two plain documents: with `rebuild`, one that seeds an IVF
        coarse centroid and one that seeds none, so the forget runs the
        reconciliation rebuild; without, two that seed none, so it purges
        only. Either way every seed pays the same path. The seeds are the
        n_cells rows with the smallest xxhash64(__id), as IvfPqRetriever
        picks them. None (and a failed operation) if no such pair
        exists."""
        from pyspark.sql import functions as F

        from yaml_pipe_spark.plans.factory import build_component
        from yaml_pipe_spark.retrievers import unique_by_id

        corpus = unique_by_id(build_component("sink", self.spec.sink).read(self.spark))
        n_cells = self.spec.retriever.config["vector"]["n_cells"]
        seeds = {
            r.source for r in corpus.select(F.xxhash64("__id").alias("h"), "source")
            .orderBy("h").limit(n_cells).collect()
        }
        seeding = [p for p in self.corpus.normal if self.uri(p) in seeds]
        other = [p for p in self.corpus.normal if self.uri(p) not in seeds]
        if len(other) < 2 or (rebuild and not seeding):
            self.out.attempted += 1
            self.out.failed += 1
            self.out.problems.append("forget: no plain documents to forget")
            return None
        if rebuild:
            return sorted([self.rng.choice(seeding), self.rng.choice(other)])
        return sorted(self.rng.sample(other, 2))

    def forget(self, targets: list[str], rebuild: bool):
        gone = sorted(self.uri(p) for p in targets)
        want = sum(self.n_chunks(self.current[p]) for p in targets)

        def check(r):
            expect(r["sink_rows"] == want, f"forget removed {r['sink_rows']} rows, expected {want}")
            expect(r["index_rows"] == want, f"index purged {r['index_rows']} rows, expected {want}")
            expect(r["index_rebuilt"] == rebuild,
                   f"index_rebuilt is {r['index_rebuilt']}, expected {rebuild}")
            self.check_sink(absent=set(targets))

        return self.timed("forget", lambda: self.cli("forget", *gone), check)

    def restore(self, targets: list[str]) -> None:
        """Rewrite the forgotten files and refresh them back in."""
        # the ledger still holds the forgotten files' hashes, so the
        # rewrite alternates a trailing newline to re-ingest them; chunks
        # are stripped, so the corpus returns to the same rows
        for p in targets:
            base = self.corpus.files[p]
            self.current[p] = base + "\n" if self.current[p] == base else base
        write_corpus(self.data, {p: self.current[p] for p in targets})
        chunks = sum(self.n_chunks(self.current[p]) for p in targets)
        self.timed("refresh", self.run_pipeline,
                   self.check_run(len(self.current), len(targets), chunks))


def ingest(b: Bench, seconds: float) -> None:
    """Whole cycles until `seconds` of measurement have passed; each
    starts from an empty sink, state and index."""
    c = b.corpus
    n = len(c.files)
    targets = None
    eval_path, n_q = b.eval_file()
    while b.out.first_timed is None or time.perf_counter() - b.out.first_timed < seconds:
        for d in ("sink", "state", "index"):
            shutil.rmtree(os.path.join(b.work, d), ignore_errors=True)
        b.current = dict(c.files)
        write_corpus(b.data, b.current)
        kept = b.expected_rows()
        if b.timed("cold", b.run_pipeline, b.check_run(n, n, sum(kept.values()))) is None:
            break
        needle = b.rng.choice(c.needles)
        # the serve gate inside search raises on a stale index, so the
        # search also checks the run before it
        b.timed("search", lambda: b.search(c.files[needle]),
                b.check_search(top=b.uri(needle)))
        b.current.update(c.edits)
        write_corpus(b.data, c.edits)
        chunks = sum(b.n_chunks(t) for t in c.edits.values())
        b.timed("refresh", b.run_pipeline, b.check_run(n, len(c.edits), chunks))
        b.timed("noop", b.run_pipeline, b.check_run(n, 0, 0))
        b.drain()
        b.do_eval(eval_path, n_q)  # its gate checks the runs before it
        b.timed("noop", b.run_pipeline, b.check_run(n, 0, 0))
        b.drain()
        if targets is None:
            # the centroid seeds as the edited corpus has them; the purge
            # alone here, the purge and rebuild in serve
            targets = b.forget_targets(rebuild=False)
            if targets is None:
                break
        b.forget(targets, rebuild=False)
        b.drain()
        b.cycles += 1


def serve(b: Bench, seconds: float) -> None:
    """Ingest during setup, then whole cycles of seeded reads beside the
    forget/refresh writes until `seconds` of measurement have passed."""
    c = b.corpus
    n = len(c.files)
    kept = b.expected_rows()
    if b.timed("cold", b.run_pipeline, b.check_run(n, n, sum(kept.values())), setup=True) is None:
        return
    targets = b.forget_targets(rebuild=True)
    if targets is None:
        return
    eval_path, n_q = b.eval_file()
    while b.out.first_timed is None or time.perf_counter() - b.out.first_timed < seconds:
        # a fixed order: the first read after setup pays the rest of the
        # warm-up, and a seeded order would move that cost between metrics
        b.do_eval(eval_path, n_q)
        for needle in b.rng.sample(c.needles, SEARCHES):
            b.timed("search", lambda: b.search(c.files[needle]),
                    b.check_search(top=b.uri(needle)))
            b.drain()
        b.timed("noop", b.run_pipeline, b.check_run(n, 0, 0))
        if b.forget(targets, rebuild=True) is not None:
            b.restore(targets)
        b.timed("noop", b.run_pipeline, b.check_run(n, 0, 0))
        b.drain()
        b.cycles += 1


WORKLOADS = {"ingest": ingest, "serve": serve}
