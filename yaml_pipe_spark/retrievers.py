"""User-surface retrievers — the build-once/query-many split on the
pipeline spec (VERDICT r6 ask #2).

The reference splits index build (core/pipeline.py:101-127, the LanceDB
table write) from query (core/evaluation.py:44-64, app.py:53-61) but offers
only one retrieval strategy: exact cosine against the whole store. This
module exposes the engine's persisted index stores on the same user
surface: a `retriever:` key in the pipeline YAML selects the serving
strategy, `run_pipeline` builds/refreshes the index right after the sink
write (behind `index_gate`, so an unchanged sink costs two meta reads),
and `search` / `eval` serve from the persisted tables through
`ensure_fresh`: it raises on a stale index and keeps one serve-cache
entry per retriever, the driver snapshot (snapshot.py) under a file-stat
stamp of the sink and the stores, so a warm call runs no Spark job.

    retriever:
      type: ivfpq            # exact | ivfpq | bm25 | hybrid_rrf
      config:
        path: ./yamlpipe_index
        n_cells: 8
        nprobe: 2

Contract shared by all retrievers:
  corpus                     = the sink frame as read (source, text,
                             embedding), passed unchanged to gate,
                             build, is_stale, topk and ensure_fresh:
                             each dedups it itself (`unique_by_id`),
                             and only a plain read carries the sink key
                             (`_sink_state`)
  build(corpus)              rebuilds only the arms `index_gate` finds
                             stale, returns whether it rebuilt any
  topk(corpus, queries, k)   queries = (qid, qtext, qv) with one row per
                             query — BATCH-shaped, so `eval` over a
                             thousand questions is one plan, not a loop;
                             returns (qid, __id, rank, score)

Row identity: chunks have no natural key, so every retriever keys on
__id = sha2(source \\x1f text) — the same stable-tiebreak convention
cmd_eval always used; ids are content-stable across runs and partition
layouts.
"""

from __future__ import annotations

import functools
import hashlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yaml_pipe_spark.filestats import local_path, tree_stats
from yaml_pipe_spark.lru import Lru
from yaml_pipe_spark.session import run_wave

TOKEN_RE = r"\p{L}+"  # same tokenization as the BM25 index build


def query_tokens(text: Column) -> Column:
    """A query's BM25 terms: the index build's tokenization of its text."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), F.lit(0))


def with_stable_id(corpus: DataFrame) -> DataFrame:
    """Content-stable row id (sha2 over source+text) — deterministic across
    runs/partitionings, unlike monotonically_increasing_id. NOT unique when
    the sink holds byte-identical (source, text) rows — index-building
    callers must go through `unique_by_id`."""
    return corpus.withColumn(
        "__id",
        F.sha2(F.concat_ws("\x1f", F.col("source"), F.col("text")), 256),
    )


def unique_by_id(corpus: DataFrame) -> DataFrame:
    """with_stable_id + one row per id. Identical chunks (same source AND
    text — boilerplate, repeated windows) share an id; indexing both would
    double BM25 tf/dl under one doc while meta counts rows, return the
    same id at two ranks from the vector store, AND let the XOR corpus
    fingerprint cancel duplicate pairs (corpora {A,A,B} and {B} hash
    equal), masking staleness. Every retriever build/serve therefore
    works on the DEDUPED frame — an index stores a set, and identical
    rows are one result. The retrievers apply it themselves to the sink
    frame they are given; callers apply it only where they read `__id`
    (a join back to the sink, a forget frame), never to the frame they
    pass a retriever, which would lose its sink key."""
    return with_stable_id(corpus).dropDuplicates(["__id"])


class ExactRetriever:
    """Exact cosine over the whole sink — the reference's strategy and the
    default when the spec has no `retriever:` key. Nothing to build."""

    def gate(self, corpus: DataFrame) -> list:
        return []  # no persisted state to go stale

    def build(self, corpus: DataFrame, gates: list | None = None) -> bool:
        return False

    def is_stale(self, corpus: DataFrame) -> bool:
        return False

    def forget(self, gone: DataFrame) -> int:
        """Nothing persisted — deleting from the sink IS the forget."""
        return 0

    def topk(self, corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
        from yaml_pipe_spark.operators.similarity import knn_join

        c = unique_by_id(corpus).select("__id", "embedding")
        nn = knn_join(
            queries.select("qid", "qv"),
            c,
            k=k,
            id_col="__id",
            exclude_self=False,
        )
        return nn.select("qid", "__id", "rank", "score")


class IvfPqRetriever:
    """Serve from a persisted IVF-PQ store (operators/ann_index.py).

    build() derives deterministic coarse centroids (the n_cells rows with
    the smallest xxhash64(__id) — a TakeOrdered, never a global sort) and
    rebuilds the store when `index_gate` finds it stale; an unchanged
    corpus + centroid set re-serves with zero build work."""

    def __init__(
        self,
        path: str,
        n_cells: int = 8,
        nprobe: int = 2,
        rerank_m: int = 20,
    ):
        from yaml_pipe_spark.operators.ann_index import IvfPqIndexStore

        self.n_cells = n_cells
        self.nprobe = nprobe
        self.rerank_m = rerank_m
        self.store = IvfPqIndexStore(path, id_col="__id")

    def _frames(self, corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
        vecs = unique_by_id(corpus).select("__id", "embedding")
        seeds = (
            vecs.withColumn("__h", F.xxhash64("__id"))
            .orderBy("__h")
            .limit(self.n_cells)
        )
        cents = seeds.select(
            (F.row_number().over(W.orderBy("__h")) - 1)
            .cast("long")
            .alias("cid"),
            F.col("embedding").alias("cv"),
        )
        return vecs, cents

    # the arm hooks index_gate and build_stale drive
    FP_COL = "embedding"

    def _centroid_fp(self, corpus: DataFrame) -> tuple[int, int]:
        return self.store._centroid_fingerprint(self._frames(corpus)[1])

    def _stale(self, spark: SparkSession, g: ArmGate) -> bool:
        return self.store.is_stale_for_fingerprint(
            spark, *g.fp, centroid_fp=g.cfp, meta=g.meta
        )

    def _rebuild(self, corpus: DataFrame, g: ArmGate, sink_key) -> None:
        vecs, cents = self._frames(corpus)
        self.store.build(vecs, cents, fp=g.fp, cfp=g.cfp, sink_key=sink_key)

    def gate(self, corpus: DataFrame) -> list[ArmGate]:
        return index_gate([self], corpus)

    def build(
        self, corpus: DataFrame, gates: list[ArmGate] | None = None
    ) -> bool:
        if gates is None:
            gates = self.gate(corpus)
        return build_stale(corpus, gates)

    def is_stale(self, corpus: DataFrame) -> bool:
        return any(g.stale for g in self.gate(corpus))

    def forget(self, gone: DataFrame) -> int:
        """Purge the rows from the persisted store (physical; fingerprint
        composes out). NOTE: if a forgotten row seeded one of the
        deterministic coarse centroids, its vector still lives in the
        centroids table — is_stale(remaining) then reports True (the seed
        set changed) and the caller must rebuild, which is exactly the
        right RTBF outcome: a quantizer built FROM the deleted vector is
        itself personal data. cmd_forget composes forget + that gate."""
        return self.store.forget(gone.select("__id"))

    def topk(self, corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
        # the store tables' schemas follow from the frames build() wrote,
        # which derive from the corpus schema — planning reads no files
        vecs, cents = self._frames(corpus)
        out = self.store.serve(
            queries.select("qid", "qv"),
            k=k,
            nprobe=self.nprobe,
            rerank_m=self.rerank_m,
            schemas=self.store.table_schemas(vecs.schema, cents.schema),
        )
        return out.select("qid", "__id", "rank", "score")


class Bm25Retriever:
    """Free-text lexical serve from a persisted BM25 inverted index
    (operators/retrieval.py::Bm25IndexStore): query terms tokenize with
    the SAME \\p{L}+ expression the index build used (Spark-side, zero
    tokenizer drift), candidates come from one qterms⋈tf equi-join, and
    scoring is retrieval.score_qterms — the identical core the oracled
    q3_bm25_* queries pin."""

    def __init__(self, path: str):
        from yaml_pipe_spark.operators.retrieval import Bm25IndexStore

        self.store = Bm25IndexStore(path, id_col="__id", text_col="text")

    # the arm hooks index_gate and build_stale drive
    FP_COL = "text"

    def _stale(self, spark: SparkSession, g: ArmGate) -> bool:
        return self.store.is_stale_for_fingerprint(spark, *g.fp, meta=g.meta)

    def _rebuild(self, corpus: DataFrame, g: ArmGate, sink_key) -> None:
        docs = unique_by_id(corpus).select("__id", "text")
        self.store.build(docs, fp=g.fp, sink_key=sink_key)

    def gate(self, corpus: DataFrame) -> list[ArmGate]:
        return index_gate([self], corpus)

    def build(
        self, corpus: DataFrame, gates: list[ArmGate] | None = None
    ) -> bool:
        if gates is None:
            gates = self.gate(corpus)
        return build_stale(corpus, gates)

    def is_stale(self, corpus: DataFrame) -> bool:
        return any(g.stale for g in self.gate(corpus))

    def forget(self, gone: DataFrame) -> int:
        """Deletion-vector forget on the persisted BM25 store: gone must
        carry (__id, text) — the store recomposes its fingerprint from the
        dropped rows' text (it persists only derived statistics)."""
        return self.store.forget(gone.select("__id", "text"))

    def topk(self, corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
        from yaml_pipe_spark.operators.index_meta import tiny_local_df
        from yaml_pipe_spark.operators.retrieval import score_qterms

        spark = corpus.sparkSession
        meta = self.store._read_meta(spark)
        if meta is None:
            raise ValueError(
                f"no BM25 index at {self.store.base_path}; run the "
                "pipeline (or build()) first"
            )
        n_docs, total = int(meta["n_docs"]), int(meta["total_tokens"])
        if n_docs == 0:
            qid_type = queries.schema["qid"].dataType.simpleString()
            return spark.createDataFrame(
                [],
                f"qid {qid_type}, __id string, rank long, score double",
            )
        # generation-scoped deletion vectors: forgotten docs must not be
        # served from this read path either (review-wave fix — serve()
        # masked tombstones but the CLI retriever read tf/dl raw)
        tf, dl, cf = self.store.live_tables(spark, meta["id_type"])
        stats = tiny_local_df(
            spark, [(n_docs, total / n_docs)], "n_docs long, avgdl double"
        )
        ctot = tiny_local_df(spark, [(total,)], "c long")
        qterms = queries.select(
            "qid",
            F.explode(query_tokens(F.col("qtext"))).alias("tok"),
        ).distinct()
        scored = score_qterms(qterms, tf, dl, cf, stats, ctot).withColumn(
            # round BEFORE ranking — the repo's pinned convention
            # (rank_bm25_topk rounds to 4dp) so rank membership is exact
            # and the YAML serve agrees with the persisted-store serve
            "bm25", F.round("bm25", 4)
        )
        w = W.partitionBy("qid").orderBy(F.desc("bm25"), F.col("doc_id"))
        return (
            scored.withColumn(
                "rank", F.row_number().over(w).cast("long")
            )
            .filter(F.col("rank") <= k)
            .select(
                "qid",
                F.col("doc_id").alias("__id"),
                "rank",
                F.col("bm25").alias("score"),
            )
        )


class HybridRrfRetriever:
    """Reciprocal-rank fusion of the persisted lexical and vector arms:
    score = sum over arms of 1/(rrf_k + rank). Rank-based, so the arms'
    score scales never need calibrating; both serve from their persisted
    stores."""

    def __init__(
        self,
        vector: dict | None = None,
        lexical: dict | None = None,
        rrf_k: int = 60,
    ):
        # validate up front so a YAML that omits an arm's config gets a
        # config error naming the missing key, not a bare TypeError from
        # the arm constructor (ADVICE r7)
        for arm, cfg in (("vector", vector), ("lexical", lexical)):
            if not isinstance(cfg, dict) or "path" not in cfg:
                raise ValueError(
                    f"hybrid_rrf retriever config needs a '{arm}' mapping "
                    f"with a 'path' (the {arm} arm's persisted index "
                    f"location); got {cfg!r}"
                )
        self.vector = IvfPqRetriever(**vector)
        self.lexical = Bm25Retriever(**lexical)
        self.rrf_k = rrf_k

    def gate(self, corpus: DataFrame) -> list[ArmGate]:
        return index_gate([self.vector, self.lexical], corpus)

    def build(
        self, corpus: DataFrame, gates: list[ArmGate] | None = None
    ) -> bool:
        if gates is None:
            gates = self.gate(corpus)
        return build_stale(corpus, gates)

    def is_stale(self, corpus: DataFrame) -> bool:
        return any(g.stale for g in self.gate(corpus))

    def forget(self, gone: DataFrame) -> int:
        """Purge both arms; returns the larger per-arm purge count (the
        arms index the same deduped corpus, so the counts agree unless one
        arm was already purged by a partially-applied earlier request).

        Each arm is tried independently: with one arm built and the other
        not (a crash mid-build, or a config that grew a second arm later),
        a fail-fast pair would either skip the built arm or — worse —
        purge the first arm and then raise, making cmd_forget's
        not-built-yet handler report index_rows=0 for a purge that
        partially happened (ADVICE r10). An arm that was never built has
        nothing to purge, so IndexNotBuiltError from it is a clean 0; if
        NEITHER arm exists, re-raise so the caller's "no persisted index
        yet" path stays reachable."""
        from yaml_pipe_spark.errors import IndexNotBuiltError

        def _arm_forget(arm) -> int | IndexNotBuiltError:
            try:
                return arm.forget(gone)
            except IndexNotBuiltError as e:
                return e

        # the arms purge DISJOINT persisted stores: submit their Spark
        # jobs concurrently (plain concurrent action submission — the
        # standard idiom for independent outputs; each arm's internal
        # write ordering is unchanged). Sequential arms paid the full
        # per-job scheduling latency twice back to back.
        results = run_wave(
            lambda: _arm_forget(self.vector),
            lambda: _arm_forget(self.lexical),
        )
        counts = [r for r in results if not isinstance(r, IndexNotBuiltError)]
        if not counts:
            raise results[0]
        return max(counts)

    def topk(self, corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
        # the arms' plans are independent and their construction is
        # py4j-latency bound (thousands of round trips each, plus the
        # lexical arm's meta-row job), so they are built concurrently
        v, l = run_wave(
            lambda: self.vector.topk(corpus, queries, k),
            lambda: self.lexical.topk(corpus, queries, k),
        )
        v = v.select("qid", "__id", F.col("rank").alias("rv"))
        l = l.select("qid", "__id", F.col("rank").alias("rl"))
        fused = (
            v.join(l, ["qid", "__id"], "full")
            .withColumn(
                "score",
                F.round(
                    F.coalesce(1.0 / (self.rrf_k + F.col("rv")), F.lit(0.0))
                    + F.coalesce(
                        1.0 / (self.rrf_k + F.col("rl")), F.lit(0.0)
                    ),
                    6,
                ),
            )
        )
        w = W.partitionBy("qid").orderBy(F.desc("score"), F.col("__id"))
        return (
            fused.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "__id", "rank", "score")
        )


# -- the index gate ----------------------------------------------------

# Names what the stores' corpus fingerprints hash (index_meta.
# fingerprint_of: the row count and a bit_xor of xxhash64 over the id and
# one content column). A sink key covers it, so changing the definition
# makes every stamped key miss.
_FP_DEF = "n,bit_xor(xxhash64(__id,col))"


@dataclass
class ArmGate:
    """One arm's verdict from `index_gate`, with what proved it."""

    arm: IvfPqRetriever | Bm25Retriever
    key: str | None  # the sink key, taken before the check
    meta: dict | None  # the arm's meta row; None when absent
    stale: bool = True
    fp: tuple[int, int] | None = None  # the corpus fingerprint, when known
    cfp: tuple[int, int] | None = None  # the centroid one (IVF-PQ arms)

    @property
    def keyed(self) -> bool:
        """Whether the meta's sink key proves the sink unchanged since the
        fingerprints it records were taken."""
        return (
            self.key is not None
            and self.meta is not None
            and self.meta.get("sink_key") == self.key
        )


def index_gate(arms: list, corpus: DataFrame) -> list[ArmGate]:
    """The one freshness check of persisted arms against `corpus`, the
    sink; `build`, `is_stale` and the serve gate all go through it.

    - Both arms' meta rows are read in one wave.
    - An absent meta is stale with no scan.
    - An arm whose meta records the current sink key is checked against
      the fingerprints that meta records, with no scan: the key says the
      sink files are the ones those fingerprints were taken over. The
      store's other checks (scale, layout, generation) still run.
    - Every other arm is checked against fingerprints from one
      concurrent wave: a single aggregate over the deduped corpus for
      all of those arms, and each IVF-PQ arm's derived-centroid
      fingerprint.

    Returns one ArmGate per arm, in order, carrying its fingerprints so
    a rebuild need not take them again."""
    spark = corpus.sparkSession
    sink = _sink_state(corpus)
    metas = run_wave(
        *(functools.partial(a.store._read_meta, spark) for a in arms)
    )
    gates = [ArmGate(a, _sink_key(a, sink), m) for a, m in zip(arms, metas)]
    for g in gates:
        if g.keyed:
            g.fp = (g.meta["fp_n"], g.meta["fp_h"])
            if isinstance(g.arm, IvfPqRetriever):
                g.cfp = (g.meta["cfp_n"], g.meta["cfp_h"])
    scan = [g for g in gates if g.meta is not None and g.fp is None]
    if scan:
        _fingerprint(corpus, scan)
    for g in gates:
        g.stale = g.meta is None or g.arm._stale(spark, g)
    return gates


def _fingerprint(corpus: DataFrame, gates: list[ArmGate]) -> None:
    """Fill each gate's fingerprints from one wave: one aggregate over the
    deduped corpus for every arm's content column (the same rows and hash
    as each store's own fingerprint), and the IVF-PQ arms' centroid
    fingerprints."""
    c = unique_by_id(corpus)
    cols = sorted({g.arm.FP_COL for g in gates})

    def corpus_row():
        return c.agg(
            F.count("*").cast("long").alias("n"),
            *(
                F.coalesce(F.bit_xor(F.xxhash64("__id", col)), F.lit(0))
                .cast("long")
                .alias(col)
                for col in cols
            ),
        ).collect()[0]

    ivf = [g for g in gates if isinstance(g.arm, IvfPqRetriever)]
    row, *cfps = run_wave(
        corpus_row,
        *(functools.partial(g.arm._centroid_fp, corpus) for g in ivf),
    )
    for g in gates:
        g.fp = (int(row["n"]), int(row[g.arm.FP_COL]))
    for g, cfp in zip(ivf, cfps):
        g.cfp = cfp


def build_stale(corpus: DataFrame, gates: list[ArmGate]) -> bool:
    """Rebuild the arms `gates` found stale, with the fingerprints the gate
    took, stamping the gate's sink key if the sink is unchanged once the
    tables are written. Returns whether any arm was rebuilt.

    The stale arms rebuild as one concurrent wave: their stores share no
    file. Each store writes its meta only after all of its own tables,
    so an arm whose rebuild fails reads stale while the others commit;
    the wave waits for every arm before it re-raises the failure."""

    def rebuild(g: ArmGate) -> None:
        stamp = None if g.key is None else (
            lambda: g.key if _unchanged(corpus, g) else None
        )
        g.arm._rebuild(corpus, g, stamp)

    stale = [g for g in gates if g.stale]
    if stale:
        run_wave(*(functools.partial(rebuild, g) for g in stale))
    return bool(stale)


def restamp_fresh(corpus: DataFrame, gates: list[ArmGate]) -> None:
    """Stamp the current sink key into each arm `gates` proved fresh by a
    fingerprint scan (its meta held another key or none), one meta write
    per arm in one wave, so the next check of an unchanged sink needs no
    scan. `run` calls it; `forget` does not, which keeps the meta writes
    out of the deletion request's latency (the next `run` restamps)."""
    spark = corpus.sparkSession
    fresh = [
        g for g in gates
        if not g.stale
        and g.key is not None
        and not g.keyed
        and _unchanged(corpus, g)
    ]
    if fresh:
        run_wave(
            *(
                functools.partial(g.arm.store.restamp, spark, g.meta, g.key)
                for g in fresh
            )
        )


def _unchanged(corpus: DataFrame, g: ArmGate) -> bool:
    """Whether the sink still has the key `g` was checked under."""
    return _sink_key(g.arm, _sink_state(corpus)) == g.key


def _config_key(obj):
    """Hashable form of a retriever's configuration: its attributes,
    recursively (arms, stores, paths, serve parameters)."""
    if hasattr(obj, "__dict__"):
        return (type(obj).__qualname__,) + tuple(
            (k, _config_key(v)) for k, v in sorted(vars(obj).items())
        )
    return repr(obj)


def _sink_state(corpus: DataFrame) -> tuple | None:
    """(schema, file stats) of the sink `corpus` reads, when `corpus` is
    the sink frame as read: a plain scan of the local files under one
    root path, whose rows then decide the indexed set. None for any other
    plan (`unique_by_id` of the read, a filter, a join, local rows, a
    checkpoint, a read of several paths)."""
    plan = corpus._jdf.queryExecution().analyzed()
    if not (
        plan.getClass().getSimpleName() == "LogicalRelation"
        and plan.relation().getClass().getSimpleName() == "HadoopFsRelation"
    ):
        return None
    roots = plan.relation().location().rootPaths()
    if roots.size() != 1:
        return None
    # the files Spark's reader lists under the one root, stat'ed here:
    # a local walk, not a JVM listing (`inputFiles`), with the same
    # unescaped paths, so stamped sink keys stay the same
    stats = tree_stats(roots.head().toUri().toString())
    return (plan.schema().simpleString(), stats) if stats else None


def _sink_key(arm, sink: tuple | None) -> str | None:
    """The key an arm's meta records to prove, in a later process, that
    the sink is unchanged since its fingerprints were taken: a sha256 over
    the arm's config, the fingerprint definition, and the sink's schema
    and `(path, size, mtime_ns)` of every data file (`_sink_state`). It
    trusts size and mtime as the serve stamp does. None for a sink that
    `_sink_state` cannot describe or a store off the local filesystem."""
    if sink is None or local_path(arm.store.meta_path) is None:
        return None
    return hashlib.sha256(
        repr((_config_key(arm), _FP_DEF) + sink).encode()
    ).hexdigest()


# -- the serve cache -----------------------------------------------------

# One entry per retriever config: (stamp, ServeSnapshot or None), the
# snapshot None for an index over the row budget. Only a fresh index is
# ever stored, so a stale one raises on every call. Two entries: a
# snapshot is the size of its index, and a session serves one.
_SERVE = Lru(2)


def _arms(retriever) -> list | None:
    """The persisted arms behind `retriever`; None for a retriever type
    whose stores are not known here."""
    if isinstance(retriever, HybridRrfRetriever):
        return [retriever.vector, retriever.lexical]
    if isinstance(retriever, (IvfPqRetriever, Bm25Retriever)):
        return [retriever]
    return None


def _serve_stamp(retriever, corpus: DataFrame) -> tuple | None:
    """Everything the gate and the snapshot read: the sink's schema and
    file stats (`_sink_state`, which the persisted sink key hashes), and
    `(path, size, mtime_ns)` of every listed file under each arm's store
    directory, meta included. None (do not cache) for an unknown
    retriever type or a corpus that is not the local sink as read."""
    arms = _arms(retriever)
    sink = None if arms is None else _sink_state(corpus)
    if sink is None:
        return None
    stores = [tree_stats(a.store.base_path) for a in arms]
    if None in stores:
        return None
    return sink, sum(stores, ())


def ensure_fresh(retriever, corpus: DataFrame):
    """The serve entry: raise on a stale index, else return the driver
    snapshot to serve from (snapshot.py), or None to serve with Spark.

    A persisted index that does not match the CURRENT sink contents
    (crash between sink write and index build, `retriever:` added after
    the last run, or a corrupted store) must fail loudly, not quietly
    return short/stale result lists. The check is `index_gate`, the one
    the build path uses, so a sink key stamped by the last run spares a
    fresh process the fingerprint scan.

    Past the check, an index of at most `SNAPSHOT_MAX_ROWS` store rows is
    filled into a snapshot. The result is kept in the retriever's one
    cache entry under `_serve_stamp`, so a warm session's repeated calls
    run no job until a sink or store file changes; a changed stamp drops
    the entry before the check. It is stored only when the stamp taken
    after the fill equals the one taken before the check, so a write
    racing either is never cached or served."""
    from yaml_pipe_spark import snapshot

    key = _config_key(retriever)
    stamp = _serve_stamp(retriever, corpus)
    hit = _SERVE.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return hit[1]
    del hit  # release a stale snapshot before the refill, not after it
    _SERVE.pop(key)
    if retriever.is_stale(corpus):
        raise ValueError(
            f"the persisted {type(retriever).__name__} index is stale or "
            "missing for the current sink contents; run the pipeline "
            "(`yaml-pipe run -c <config>`) to (re)build it before serving"
        )
    if stamp is None:
        return None
    snap = None
    if snapshot._parquet_rows(stamp[1]) <= snapshot.SNAPSHOT_MAX_ROWS:
        snap = snapshot._fill(retriever, corpus)
    if _serve_stamp(retriever, corpus) != stamp:
        return None
    _SERVE.put(key, (stamp, snap))
    return snap


RETRIEVERS = {
    "exact": ExactRetriever,
    "ivfpq": IvfPqRetriever,
    "bm25": Bm25Retriever,
    "hybrid_rrf": HybridRrfRetriever,
}
