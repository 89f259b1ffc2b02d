"""User-surface retrievers — the build-once/query-many split on the
pipeline spec (VERDICT r6 ask #2).

The reference splits index build (core/pipeline.py:101-127, the LanceDB
table write) from query (core/evaluation.py:44-64, app.py:53-61) but offers
only one retrieval strategy: exact cosine against the whole store. This
module exposes the engine's persisted index stores on the same user
surface: a `retriever:` key in the pipeline YAML selects the serving
strategy, `run_pipeline` builds/refreshes the index right after the sink
write (fingerprint-gated, so an unchanged corpus costs one aggregate), and
`search` / `eval` serve from the persisted tables.

    retriever:
      type: ivfpq            # exact | ivfpq | bm25 | hybrid_rrf
      config:
        path: ./yamlpipe_index
        n_cells: 8
        nprobe: 2

Contract shared by all retrievers:
  build(corpus)              corpus = the sink frame (source, text,
                             embedding); idempotent via index staleness
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

import hashlib
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

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
    equal), masking staleness. Every retriever build/serve/join therefore
    works on the DEDUPED frame — an index stores a set, and identical
    rows are one result."""
    return with_stable_id(corpus).dropDuplicates(["__id"])


class ExactRetriever:
    """Exact cosine over the whole sink — the reference's strategy and the
    default when the spec has no `retriever:` key. Nothing to build."""

    def build(self, corpus: DataFrame) -> None:
        return None

    def is_stale(self, corpus: DataFrame) -> bool:
        return False  # no persisted state to go stale

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
    delegates to IvfPqIndexStore.build_if_stale; an unchanged corpus +
    centroid set re-serves with zero build work."""

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

    def build(self, corpus: DataFrame) -> None:
        vecs, cents = self._frames(corpus)
        self.store.build_if_stale(vecs, cents)

    def is_stale(self, corpus: DataFrame) -> bool:
        vecs, cents = self._frames(corpus)
        return self.store.is_stale(vecs, centroids=cents)

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

    def build(self, corpus: DataFrame) -> None:
        docs = unique_by_id(corpus).select("__id", "text")
        self.store.build_if_stale(docs)

    def is_stale(self, corpus: DataFrame) -> bool:
        return self.store.is_stale(unique_by_id(corpus).select("__id", "text"))

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

    def build(self, corpus: DataFrame) -> None:
        self.vector.build(corpus)
        self.lexical.build(corpus)

    def is_stale(self, corpus: DataFrame) -> bool:
        return any(self.staleness(corpus))

    def staleness(self, corpus: DataFrame) -> tuple[bool, bool]:
        """(vector_stale, lexical_stale) from ONE corpus aggregate
        (VERDICT r11 ask #4): both arms fingerprint the same deduped
        corpus — (__id, embedding) for the IVF-PQ store, (__id, text) for
        BM25 — so the two full scans fold into a single multi-aggregate
        pass; what remains per arm is a one-file meta read, plus the
        vector arm's derived-centroid fingerprint (a TakeOrdered over 8
        rows). Independent is_stale calls pay 2 corpus scans + a dedup
        each; a cmd_forget rep makes 3-4 staleness checks, so the batch
        is most of the e2e row's action-count trim.

        r14 (guide §2.6): the four Spark-side probes — the corpus
        aggregate, the centroid-fingerprint job, and the two one-file
        meta reads — are mutually independent, so they run as ONE
        concurrent wave instead of four back-to-back actions; the
        staleness predicates then evaluate driver-side on the prefetched
        values, unchanged."""
        spark = corpus.sparkSession
        c = unique_by_id(corpus)

        def _corpus_row():
            return c.agg(
                F.count("*").cast("long").alias("n"),
                F.coalesce(
                    F.bit_xor(F.xxhash64(F.col("__id"), F.col("embedding"))),
                    F.lit(0),
                ).cast("long").alias("hv"),
                F.coalesce(
                    F.bit_xor(F.xxhash64(F.col("__id"), F.col("text"))),
                    F.lit(0),
                ).cast("long").alias("hl"),
            ).collect()[0]

        def _centroid_fp():
            _, cents = self.vector._frames(corpus)
            return self.vector.store._centroid_fingerprint(cents)

        row, cfp, vmeta, lmeta = run_wave(
            _corpus_row,
            _centroid_fp,
            lambda: self.vector.store._read_meta(spark),
            lambda: self.lexical.store._read_meta(spark),
        )
        v_stale = self.vector.store.is_stale_for_fingerprint(
            spark, int(row["n"]), int(row["hv"]),
            centroid_fp=cfp, meta=vmeta,
        )
        l_stale = self.lexical.store.is_stale_for_fingerprint(
            spark, int(row["n"]), int(row["hl"]), meta=lmeta
        )
        return v_stale, l_stale

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


# Fresh serve-gate verdicts, keyed by everything the uncached verdict
# reads (_verdict_key). Only a fresh verdict is ever stored, so a stale
# index raises on every call. Keys are tuples of strings and ints: no
# session, frame or store object outlives the call that made it.
_FRESH_VERDICTS = Lru(64)


def _index_stores(retriever) -> list | None:
    """The persisted stores whose meta rows the retriever's is_stale reads;
    None for a retriever type whose verdict inputs are not known here."""
    if isinstance(retriever, HybridRrfRetriever):
        return [retriever.vector.store, retriever.lexical.store]
    if isinstance(retriever, (IvfPqRetriever, Bm25Retriever)):
        return [retriever.store]
    return None


def _config_key(obj):
    """Hashable form of a retriever's configuration: its attributes,
    recursively (arms, stores, paths, serve parameters)."""
    if hasattr(obj, "__dict__"):
        return (type(obj).__qualname__,) + tuple(
            (k, _config_key(v)) for k, v in sorted(vars(obj).items())
        )
    return repr(obj)


def _local_path(uri: str) -> str | None:
    """The local filesystem path `uri` names; None for any other scheme."""
    u = urlparse(uri)
    if u.scheme == "":
        return os.path.abspath(uri)
    return unquote(u.path) if u.scheme == "file" else None


def _listed_files(root: str) -> list[str]:
    """Files under `root` that Spark's parquet reader lists: it skips
    names starting with `_` or `.`, except hive partition directories."""

    def listed(name: str) -> bool:
        return not (
            name.startswith(".") or (name.startswith("_") and "=" not in name)
        )

    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if listed(x)]
        out += [os.path.join(d, f) for f in files if listed(f)]
    return sorted(out)


def _corpus_files(corpus: DataFrame, plan) -> list[str] | None:
    """Local paths of every file the corpus plan scans; None when a leaf of
    the (analyzed) plan is not a file scan (local rows, a JDBC table) or a
    file is not on the local filesystem."""
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName()
            != "HadoopFsRelation"
        ):
            return None
    paths = [_local_path(u) for u in corpus.inputFiles()]
    return sorted(paths) if paths and None not in paths else None


def _verdict_key(retriever, corpus: DataFrame) -> tuple | None:
    """Everything the uncached verdict reads: the retriever's config, the
    corpus plan and schema, and the size and mtime_ns of every sink data
    file and every file in each arm's meta directory. None (do not cache)
    for an unknown retriever type or any non-local input."""
    stores = _index_stores(retriever)
    if stores is None:
        return None
    plan = corpus._jdf.queryExecution().analyzed()
    metas = [_local_path(s.meta_path) for s in stores]
    sink = _corpus_files(corpus, plan)
    if sink is None or None in metas:
        return None
    files = []
    for p in sink + [f for m in metas for f in _listed_files(m)]:
        try:
            st = os.stat(p)
        except OSError:
            return None
        files.append((p, st.st_size, st.st_mtime_ns))
    return (
        _config_key(retriever),
        hashlib.sha256(plan.canonicalized().toString().encode()).hexdigest(),
        corpus.schema.simpleString(),
        tuple(files),
    )


def ensure_fresh(retriever, corpus: DataFrame) -> tuple | None:
    """Serve-time staleness gate (ADVICE r7): a persisted index that does
    not match the CURRENT sink contents (crash between sink write and index
    build, `retriever:` added after the last run, or a corrupted store)
    must fail loudly, not quietly return short/stale result lists. One
    narrow aggregate per arm — the same is_stale the build path uses.

    A fresh verdict is cached under _verdict_key, so a warm session's
    repeated searches skip the check until a sink file or an arm's meta
    changes. It is stored only when the key taken after the check equals
    the one taken before, so a write racing the check is never cached.
    Returns the key the fresh verdict is cached under, or None when it is
    not (snapshot.serve_snapshot keys the driver snapshot on it)."""
    key = _verdict_key(retriever, corpus)
    if key is not None and _FRESH_VERDICTS.get(key):
        return key
    if retriever.is_stale(corpus):
        raise ValueError(
            f"the persisted {type(retriever).__name__} index is stale or "
            "missing for the current sink contents; run the pipeline "
            "(`yaml-pipe run -c <config>`) to (re)build it before serving"
        )
    if key is None or _verdict_key(retriever, corpus) != key:
        return None
    _FRESH_VERDICTS.put(key, True)
    return key


RETRIEVERS = {
    "exact": ExactRetriever,
    "ivfpq": IvfPqRetriever,
    "bm25": Bm25Retriever,
    "hybrid_rrf": HybridRrfRetriever,
}
