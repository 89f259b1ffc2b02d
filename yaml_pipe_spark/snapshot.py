"""Warm top-k from a driver snapshot of the persisted index.

A warm search over a small index spends nearly all of its time in the
Spark top-k plan: two dozen tiny broadcast and shuffle stages over tables
of a few hundred rows. Once the serve gate (`retrievers.ensure_fresh`)
has passed, this module keeps the tables that plan reads in driver
memory, and answers `topk` in plain Python with the plan's own
arithmetic, so one session's queries reuse one read of the index.

- What is held: per IVF-PQ arm the coarse centroids, the codes with their
  cell and the rerank vectors; per BM25 arm the live tf and dl (tombstones
  applied), df per token and the meta scalars; and the corpus's
  `__id -> (source, text)`, so callers never re-join the sink.
- Key: the retriever's one entry in the serve cache
  (`retrievers.ensure_fresh`), stamped with the sink's schema and file
  stats and `(path, size, mtime_ns)` of every listed file under each
  store's directory. Any sink or store write changes the stamp, including
  one that leaves meta alone, and the next serve call drops the entry
  before it re-checks and refills.
- Fill: one `run_wave` of per-table collects, labelled
  `serve.snapshot_fill`, on the first serve call after the check. The
  snapshot is stored only if the stamp is the same after the fill as
  before the check, so a write racing the fill is never served.
- Budget: the fill runs only while the store tables hold at most
  `SNAPSHOT_MAX_ROWS` rows (parquet footers, no Spark job). Above it the
  Spark plan serves, and it is the reference the snapshot is tested
  against in either case.

Exactness, step by step with the Spark plans in `retrievers.py`:
dot products and squared norms are left-to-right folds
(`np.cumsum(...)[..., -1]`, the contract of
`similarity.knn_join_arrow`); every `F.round` is Spark's HALF_UP on the
double's shortest decimal form (`round_half_up`); ties go to the lower
cell id or `__id`; BM25 keeps its grid's tf=0 rows and drops terms absent
from cf, as its inner join does, and takes each idf from Spark's own
`log` (evaluated once per distinct df at fill time, on a local relation).
The one step whose order Spark does not fix is BM25's sum over a query's
terms; it is summed in token order, and its 4-decimal round hides the
last-bit difference an order change can make. Any input the plain
arithmetic cannot reproduce (a zero norm, which ANSI Spark rejects, a
NaN, a null or a query vector of another width) declines to the Spark
plan.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaml_pipe_spark.retrievers import (
    Bm25Retriever,
    HybridRrfRetriever,
    IvfPqRetriever,
    _arms,
    query_tokens,
    unique_by_id,
)
from yaml_pipe_spark.session import job_label, run_wave

# Largest store (summed parquet rows of every table under each store's
# directory) that is held in driver memory. Each store holds at least one
# row per corpus row, so this also bounds the corpus map. Measured at
# 490,106 rows on a 4-core host: a 4.3 s fill, 313 MB of driver RSS, and
# a warm search still faster than the Spark plan (README, "Serving").
SNAPSHOT_MAX_ROWS = 500_000

# Decimal precision that holds any double's exact value at any scale
_EXACT = Context(prec=800)


def round_half_up(x: float, decimals: int) -> float:
    """Spark's `F.round(x, decimals)` on a double: HALF_UP on the shortest
    decimal string that reads back as `x`, with NaN and infinities
    unchanged. A zero result is +0.0, as Spark's decimal has no sign."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    q = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-decimals), ROUND_HALF_UP, context=_EXACT
    )
    return float(q) + 0.0


class _Decline(Exception):
    """The snapshot cannot reproduce the Spark answer for this input."""


def _fold(m: np.ndarray) -> np.ndarray:
    """Left-to-right sum over the last axis (Spark's `aggregate` fold)."""
    if m.shape[-1] == 0:
        return np.zeros(m.shape[:-1])
    return np.cumsum(m, axis=-1)[..., -1]


def _cosines(q: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Unrounded `similarity.cosine` of each row of `m` against `q`."""
    den = np.sqrt(_fold(m * m) * _fold(q * q))
    if not (np.all(np.isfinite(den)) and np.all(den > 0)):
        raise _Decline("zero or non-finite norm")
    return _fold(m * q) / den


def _ranked(rows: list, key, n: int) -> list:
    """The first `n` of `rows` in `key` order (a window's `rank <= n`
    cut, which keeps nothing for n < 1)."""
    return sorted(rows, key=key)[: max(n, 0)]


# -- the arms -----------------------------------------------------------


@dataclass
class _IvfTables:
    cids: list  # centroid ids, table order
    cents: np.ndarray  # centroid vectors, one row per cid
    cells: dict  # cid -> (ids, reconstructed code levels)
    vectors: dict  # id -> full-precision vector
    dim: int

    def topk(self, arm: IvfPqRetriever, queries: dict, k: int) -> dict:
        """IvfPqIndexStore.serve: per query row the nprobe nearest cells
        by rounded cosine (ties to the lower cid), the rerank_m nearest
        codes of those cells by rounded ADC distance (ties to the lower
        id), then the k best of those by rounded exact cosine."""
        nd = arm.store.score_decimals
        out = {}
        # each window partitions by qid, so a qid's rows (a repeated
        # question) share every cut
        for qid, rows in queries.items():
            cells = []
            for i, (qv, _) in enumerate(rows):
                if len(qv) != self.dim:
                    raise _Decline("query width differs from the index")
                s = _cosines(qv, self.cents) if self.cids else []
                cells += [
                    (round_half_up(float(v), nd), c, i)
                    for v, c in zip(s, self.cids)
                ]
            adc = []
            probes = _ranked(cells, lambda r: (-r[0], r[1]), arm.nprobe)
            for _, cid, i in probes:
                ids, levels = self.cells.get(cid, ((), None))
                if ids:
                    d = rows[i][0] - levels
                    adc += [
                        (round_half_up(float(v), nd), rid, i)
                        for rid, v in zip(ids, _fold(d * d))
                    ]
            top_m = _ranked(adc, lambda r: (r[0], r[1]), arm.rerank_m)
            scored = []
            for _, rid, i in top_m:
                vec = self.vectors.get(rid)
                if vec is not None:  # the rerank's inner join
                    s = float(_cosines(rows[i][0], vec[None, :])[0])
                    scored.append((round_half_up(s, nd), rid))
            best = _ranked(scored, lambda r: (-r[0], r[1]), k)
            out[qid] = [(rid, n + 1, s) for n, (s, rid) in enumerate(best)]
        return out


def _ivf_thunks(arm: IvfPqRetriever, corpus: DataFrame) -> list:
    from yaml_pipe_spark.operators.index_meta import read_table

    st = arm.store
    spark = corpus.sparkSession
    vecs, cents = arm._frames(corpus)
    schemas = st.table_schemas(vecs.schema, cents.schema)

    def table(path, name, *cols):
        df = read_table(spark, path, schemas[name]).select(*cols)
        return df.collect

    return [
        table(st.centroids_path, "centroids", st.cid_col, st.cvec_col),
        table(st.codes_path, "codes", st.id_col, "code", st.cid_col),
        table(st.vectors_path, "vectors", st.id_col, st.vec_col),
    ]


def _ivf_tables(arm: IvfPqRetriever, cents, codes, vectors) -> _IvfTables:
    scale = arm.store.scale
    cents = sorted(cents, key=lambda r: r[0])
    by_cell = defaultdict(list)
    for rid, code, cid in codes:
        by_cell[cid].append((rid, code))
    cells = {}
    for cid, members in by_cell.items():
        ids, levels = zip(*members)
        # sq2_adc_dist_sq's reconstruction of a code: (code - 1.5) / scale
        cells[cid] = (ids, (np.array(levels, dtype=np.float64) - 1.5) / scale)
    vecs = {r[0]: np.array(r[1], dtype=np.float64) for r in vectors}
    dims = {len(r[1]) for r in cents} | {len(v) for v in vecs.values()}
    if len(dims) > 1:
        raise _Decline("mixed vector widths in the index")
    return _IvfTables(
        cids=[r[0] for r in cents],
        cents=np.array([r[1] for r in cents], dtype=np.float64),
        cells=cells,
        vectors=vecs,
        dim=dims.pop() if dims else 0,
    )


@dataclass
class _Bm25Tables:
    postings: dict  # tok -> {doc_id: tf}
    dl: dict  # doc_id -> dl
    idf: dict  # tok -> idf (tokens present in cf)
    avgdl: float

    def topk(self, arm: Bm25Retriever, queries: dict, k: int) -> dict:
        """Bm25Retriever.topk: candidates are the docs holding any query
        token; each scores the sum over the query's tokens present in cf
        (a tf=0 token adds idf * 0), rounded to 4 places; ties to the
        lower id."""
        from yaml_pipe_spark.operators.retrieval import B, K1

        out = {}
        for qid, rows in queries.items():
            toks = sorted({t for _, ts in rows for t in ts})
            cand = set()
            for t in toks:
                cand.update(self.postings.get(t, ()))
            terms = [t for t in toks if t in self.idf]
            scored = []
            for doc in cand:
                dl = self.dl.get(doc)
                if dl is None or not terms:  # the dl and cf inner joins
                    continue
                bm25 = 0.0
                for t in terms:
                    tf = self.postings.get(t, {}).get(doc, 0)
                    tf_norm = (
                        tf * (K1 + 1)
                        / (tf + K1 * (1 - B + B * dl / self.avgdl))
                    )
                    bm25 += self.idf[t] * tf_norm
                scored.append((round_half_up(bm25, 4), doc))
            best = _ranked(scored, lambda r: (-r[0], r[1]), k)
            out[qid] = [(doc, n + 1, s) for n, (s, doc) in enumerate(best)]
        return out


def _bm25_thunks(arm: Bm25Retriever, corpus: DataFrame) -> list:
    st = arm.store
    spark = corpus.sparkSession
    id_type = unique_by_id(corpus).schema["__id"].dataType.simpleString()
    tf, dl, cf = st.live_tables(spark, id_type)
    return [
        lambda: st._read_meta(spark),
        lambda: tf.select("doc_id", "tok", "tf").collect(),
        lambda: dl.select("doc_id", "dl").collect(),
        lambda: cf.select("tok", "df").collect(),
    ]


def _bm25_tables(spark, meta, tf, dl, cf) -> _Bm25Tables:
    import pandas as pd

    from yaml_pipe_spark.operators.retrieval import bm25_idf

    if meta is None:
        raise _Decline("no BM25 meta")
    n_docs, total = int(meta["n_docs"]), int(meta["total_tokens"])
    if n_docs == 0:
        return _Bm25Tables({}, {}, {}, 0.0)
    postings = defaultdict(dict)
    for doc, tok, n in tf:
        postings[tok][doc] = n
    dfs = dict(cf)
    idf_of_df = {}
    if dfs:
        # Spark's log differs from libm's in the last bit: evaluate the
        # score's own idf expression on a local relation (no job)
        distinct = pd.DataFrame({"df": sorted(set(dfs.values()))})
        idf_of_df = dict(
            spark.createDataFrame(distinct, "df long")
            .select("df", bm25_idf(F.lit(n_docs).cast("long"), F.col("df")))
            .collect()
        )
    return _Bm25Tables(
        postings=dict(postings),
        dl=dict(dl),
        idf={t: idf_of_df[d] for t, d in dfs.items()},
        avgdl=total / n_docs,
    )


def _rrf(rrf_k: int, v: list, l: list, k: int) -> list:
    """HybridRrfRetriever.topk's fusion of one query's arm results: a
    full outer join on id, score round(1/(rrf_k + rv) + 1/(rrf_k + rl), 6)
    with an absent arm adding 0, ties to the lower id."""
    lranks = defaultdict(list)
    for rid, rank, _ in l:
        lranks[rid].append(rank)
    vids = {rid for rid, _, _ in v}
    pairs = []
    for rid, rv, _ in v:
        pairs += [(rid, rv, rl) for rl in lranks.get(rid, [None])]
    pairs += [(rid, None, rl) for rid, rl, _ in l if rid not in vids]
    scored = []
    for rid, rv, rl in pairs:
        a = 1.0 / (rrf_k + rv) if rv is not None else 0.0
        b = 1.0 / (rrf_k + rl) if rl is not None else 0.0
        scored.append((round_half_up(a + b, 6), rid))
    best = _ranked(scored, lambda r: (-r[0], r[1]), k)
    return [(rid, n + 1, s) for n, (s, rid) in enumerate(best)]


# -- the snapshot -------------------------------------------------------


@dataclass
class ServeSnapshot:
    """A retriever's serve tables and the corpus map, held on the driver."""

    retriever: object
    docs: dict  # __id -> (source, text)
    arms: list  # per arm (retriever, tables), in the retriever's order

    def topk(self, rows: list, k: int) -> dict | None:
        """`retriever.topk` over query rows (qid, qv, toks): qid ->
        [(__id, rank, score)] in rank order, for every qid with a result.
        None when the snapshot cannot reproduce the Spark answer."""
        queries = defaultdict(list)
        for qid, qv, toks in rows:
            if qv is None or any(x is None for x in qv) or toks is None:
                return None
            queries[qid].append((np.array(qv, dtype=np.float64), toks))
        try:
            per_arm = [t.topk(arm, queries, k) for arm, t in self.arms]
        except _Decline:
            return None
        if not isinstance(self.retriever, HybridRrfRetriever):
            return per_arm[0]
        v, l = per_arm
        rrf_k = self.retriever.rrf_k
        out = {}
        for qid in queries:
            fused = _rrf(rrf_k, v.get(qid, []), l.get(qid, []), k)
            if fused:
                out[qid] = fused
        return out


def collect_queries(queries: DataFrame, *extra: str) -> list:
    """The query rows `ServeSnapshot.topk` takes, (qid, qv, toks, *extra),
    with the tokens from the same Spark expression the BM25 serve uses.
    A query frame built from local data collects without a Spark job."""
    return queries.select(
        "qid", "qv", query_tokens(F.col("qtext")).alias("toks"), *extra
    ).collect()


def local_frame(spark, rows: list, schema) -> DataFrame:
    """`rows` (tuples in `schema` order; a StructType or DDL string) as a
    pandas-built local relation, whose collect is not a Spark job. An
    empty pandas frame would become an RDD scan, whose collect is one, so
    no rows is a one-row relation of nulls cut by `limit(0)`."""
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    pdf = pd.DataFrame(rows or [(None,) * len(names)], columns=names)
    out = spark.createDataFrame(pdf, schema)
    return out if rows else out.limit(0)


def _parquet_rows(files: tuple) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p, _, _ in files
        if p.endswith(".parquet")
    )


def _fill(retriever, corpus: DataFrame) -> ServeSnapshot | None:
    spark = corpus.sparkSession
    arms = _arms(retriever)
    groups = [
        (_ivf_thunks if isinstance(arm, IvfPqRetriever) else _bm25_thunks)(
            arm, corpus
        )
        for arm in arms
    ]
    with job_label(spark, "serve.snapshot_fill"):
        docs, *got = run_wave(
            lambda: unique_by_id(corpus)
            .select("__id", "source", "text")
            .collect(),
            *(t for group in groups for t in group),
        )
    tables = []
    try:
        for arm, group in zip(arms, groups):
            mine, got = got[: len(group)], got[len(group) :]
            if isinstance(arm, IvfPqRetriever):
                tables.append((arm, _ivf_tables(arm, *mine)))
            else:
                tables.append((arm, _bm25_tables(spark, *mine)))
    except _Decline:
        return None
    return ServeSnapshot(retriever, {r[0]: (r[1], r[2]) for r in docs}, tables)

