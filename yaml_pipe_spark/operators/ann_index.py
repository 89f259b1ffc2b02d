"""Persisted IVF-PQ index lifecycle — build once, serve many (SURVEY §2.7).

The reference separates index building from querying: `core/pipeline.py`
builds the LanceDB table once, `core/evaluation.py:44-64` opens the standing
table and only runs searches against it. The in-query `ivfpq_topk` collapses
that split (it re-assigns and re-encodes the corpus inside every query) —
fine for an oracle query, wrong for production, where the corpus-scale
assign+encode must be paid once per corpus snapshot and amortized over every
search.

`IvfPqIndexStore` is the Spark-native build/serve split:

  build  — one corpus pass: IVF-assign every vector to its nearest pinned
           centroid AND compress it to 2-bit PQ codes; persist
             <base>/centroids  (k x dim, tiny)
             <base>/codes      (id, code) parquet PARTITIONED BY cid
             <base>/vectors    (id, full-precision vector) parquet
             <base>/meta       (one row: corpus fingerprint + build params)
  serve  — reads only the persisted tables. The coarse probe touches the
           broadcast centroids; the ADC scan joins the BROADCAST probe set
           against the codes table, so the index side has NO shuffle and —
           because the codes are laid out by cid — only the probed cells'
           files are read (partition pruning, nprobe/n_cells of 2-bit data).
           Exact re-rank joins the broadcast ADC top-m back to the vectors
           table. Identical `_pq_serve` semantics to the in-query path, so
           a persisted serve is value-equal to a fresh build.

Layout note: the codes table is hive-PARTITIONED by cid rather than
bucketed (`operators/sinks.py::BucketedTable`): bucketing pre-shuffles for
equi-joins between two large tables, but the serve-side join partner (the
probe set) is queries x nprobe rows and always broadcast — what the index
needs is *pruning*, and directory-partitioning by cid is what turns a probe
into a subset scan. (See `tests/test_ann_recall.py::
test_ivf_assignment_partition_pruned_probe` for the pruning assertion.)

Staleness: `build` stamps the corpus fingerprint (row count + a bit_xor
fold of per-row xxhash64 over id and vector — order-insensitive, computed
in one cheap aggregate; XOR, not a sum, so append() can compose it
incrementally over disjoint row sets) and the build params into
<base>/meta. `build_if_stale`
rebuilds iff the fingerprint or params changed; callers with a snapshot
version string can pass `version=` to skip the fingerprint scan entirely
(the metastore-driven production mode).

Deletion (`forget`, round 10): a right-to-be-forgotten request must
PHYSICALLY purge the deleted vectors from the store, not just stop
serving them. Both index tables are laid out so that purge is file
surgery proportional to the deletion, never a corpus rewrite:

  codes    — already hive-partitioned by cid: only the cells containing
             deleted ids are rewritten (dynamic partition overwrite of
             the affected cells; a cell emptied entirely has its
             directory removed, since dynamic overwrite only replaces
             partitions present in the NEW data).
  vectors  — partitioned by `__vb = pmod(xxhash64(id), N_VB)` (layout v2,
             this round) for exactly the same reason: the re-rank join
             reads all buckets regardless (partition columns cost a scan
             nothing), while forget() rewrites only the buckets the
             deleted ids hash into. Metas without `layout = v2` force a
             rebuild, the same precedent as the centroid-fingerprint
             field.

The fingerprint composes under deletion exactly as it does under append:
forget() recomputes the removed rows' hashes FROM THE STORED VECTORS
(self-contained — callers pass only ids), subtracts the count and XORs
the hashes back out, so after any build/append/forget chain
is_stale(current_corpus) compares equal iff the indexed rows are exactly
the corpus rows. Serve-after-forget is value-identical to a rebuild
without the rows (pinned in tests/test_forget.py and the
ann_index_forget driver row).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from yaml_pipe_spark.errors import IndexNotBuiltError
from yaml_pipe_spark.session import run_wave

from yaml_pipe_spark.operators.similarity import (
    _coarse_probes,
    _pq_serve,
    ivf_assign,
    sq2_codes,
)

# Persisted-layout version: bump when the on-disk table layout changes in a
# way old code paths can't serve (v2 = vectors bucket-partitioned by __vb).
# Metas stamped with a different layout are stale by definition.
_LAYOUT = "v2"

# sentinel: "caller did not prefetch the meta row" (None is a real value —
# it means the meta is absent and the store is stale)
_META_UNREAD = object()
# Vector-table bucket count: forget() rewrites only the buckets deleted ids
# hash into, so the purge cost is ~|deletes|/N_VB of the corpus per bucket
# touched. 32 keeps sandbox file counts small; at 100 TB, raise it (e.g. to
# 4096) so a single bucket's rewrite stays a few GB.
N_VB = 32
_VB = "__vb"
# the meta row's schema, declared by its writer and used by every reader;
# sink_key is the retriever gate's proof that the sink is unchanged since
# the fingerprints were taken (retrievers.index_gate), null when none is
_META_DDL = (
    "fp_n long, fp_h long, cfp_n long, cfp_h long, version string, "
    "scale int, score_decimals int, layout string, serve_nprobe int, "
    "sink_key string"
)


def _vb_of(id_col: str):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(N_VB)).cast("int")


def _partition_file_counts(
    spark: SparkSession, base: str, col: str
) -> dict[str, int]:
    """{partition value -> number of data files} for a hive-partitioned
    table, via the Hadoop FileSystem so it works on any scheme the store
    lives on. Hidden/metadata files (_SUCCESS, .crc, ...) don't count."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(conf)
    out: dict[str, int] = {}
    if not fs.exists(p):
        return out
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(col + "=")):
            continue
        n = 0
        for f in fs.listStatus(st.getPath()):
            fn = f.getPath().getName()
            if f.isFile() and not fn.startswith(("_", ".")):
                n += 1
        out[name.split("=", 1)[1]] = n
    return out


def _has_data_file(spark: SparkSession, base: str) -> bool:
    """Whether the table at `base` holds a file Spark's reader would list
    (names starting with `_` or `.` are skipped, hive partition
    directories descended), via the Hadoop FileSystem so it works on any
    scheme the store lives on, and with no Spark job."""
    p = spark._jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    todo = [p] if fs.exists(p) else []
    while todo:
        for st in fs.listStatus(todo.pop()):
            name = st.getPath().getName()
            if name.startswith(".") or (
                name.startswith("_") and "=" not in name
            ):
                continue
            if st.isFile():
                return True
            todo.append(st.getPath())
    return False


def _rm_partition_dirs(
    spark: SparkSession, base: str, col: str, values
) -> None:
    """Remove hive partition directories (used for cells/buckets emptied by
    forget(): dynamic partition overwrite only replaces partitions present
    in the new data, so an emptied partition must be dropped explicitly or
    it keeps serving deleted rows). Goes through the Hadoop FileSystem so
    it works on any scheme the store lives on, not just file://."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for v in values:
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(base, f"{col}={v}"))
        fs = p.getFileSystem(conf)
        fs.delete(p, True)


class IvfPqIndexStore:
    """Build-once / serve-many persisted IVF-PQ index at `base_path`."""

    def __init__(
        self,
        base_path: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        cid_col: str = "cid",
        cvec_col: str = "cv",
        scale: int = 8,
        score_decimals: int = 6,
    ):
        self.base_path = base_path
        self.vec_col = vec_col
        self.id_col = id_col
        self.cid_col = cid_col
        self.cvec_col = cvec_col
        self.scale = scale
        self.score_decimals = score_decimals

    # -- paths ----------------------------------------------------------
    @property
    def centroids_path(self) -> str:
        return os.path.join(self.base_path, "centroids")

    @property
    def codes_path(self) -> str:
        return os.path.join(self.base_path, "codes")

    @property
    def vectors_path(self) -> str:
        return os.path.join(self.base_path, "vectors")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.base_path, "meta")

    # -- fingerprint (shared with Bm25IndexStore via index_meta) ---------
    @staticmethod
    def _fp_of(df: DataFrame, *cols: str) -> tuple[int, int]:
        from yaml_pipe_spark.operators.index_meta import fingerprint_of

        return fingerprint_of(df, *cols)

    def _fingerprint(self, corpus: DataFrame) -> tuple[int, int]:
        return self._fp_of(corpus, self.id_col, self.vec_col)

    def _centroid_fingerprint(self, centroids: DataFrame) -> tuple[int, int]:
        return self._fp_of(centroids, self.cid_col, self.cvec_col)

    def _read_meta(self, spark: SparkSession) -> dict | None:
        from yaml_pipe_spark.operators.index_meta import read_meta

        return read_meta(spark, self.meta_path, _META_DDL)

    def table_schemas(
        self, corpus: StructType, centroids: StructType
    ) -> dict[str, StructType]:
        """The schemas build() writes, derived from the schemas of the
        two frames it was given: centroids are written as-is; codes carry
        the corpus id column, vectors its id and vector columns, each
        table plus its int partition column. Serving with these skips
        Spark's schema-inference job per table."""
        id_f, vec_f = corpus[self.id_col], corpus[self.vec_col]
        cid = StructField(self.cid_col, IntegerType())
        code = StructField("code", ArrayType(LongType()))
        vb = StructField(_VB, IntegerType())
        return {
            "centroids": centroids,
            "codes": StructType([id_f, code, cid]),
            "vectors": StructType([id_f, vec_f, vb]),
        }

    # -- lifecycle ------------------------------------------------------
    def build(
        self,
        corpus: DataFrame,
        centroids: DataFrame,
        version: str | None = None,
        serve_nprobe: int | None = None,
        fp: tuple[int, int] | None = None,
        cfp: tuple[int, int] | None = None,
        sink_key: Callable[[], str | None] | None = None,
    ) -> None:
        """One corpus pass: assign + encode, then persist all four tables.

        The assign/encode job is embarrassingly parallel (centroids are
        broadcast; the only shuffle is ivf_assign's groupBy on the vector
        id) and the codes write is partitioned by cid so serves prune.

        The codes, vectors and centroids writes (each table anchored if
        it came out fileless) and any fingerprint not passed in run as
        one concurrent wave. The meta row is written only after the wave
        has returned, so a build that fails or crashes part-way leaves
        the store reading stale.

        `serve_nprobe` stamps a measured probe budget into the meta row
        (select_nprobe's output — the smallest nprobe meeting the recall
        floor on THIS corpus under THESE centroids); serve(nprobe=None)
        reads it back, so retuning travels with the rebuild instead of
        being hardcoded at every call site.

        `fp` / `cfp` are the corpus and centroid fingerprints when the
        caller already took them (the retriever gate), so the build does
        not scan for them again. `sink_key` is called once the tables are
        written; it returns the sink key to stamp into meta, or None."""
        spark = corpus.sparkSession
        corpus = corpus.select(self.id_col, self.vec_col)
        coded = ivf_assign(
            corpus,
            centroids,
            self.vec_col,
            self.id_col,
            self.cid_col,
            self.cvec_col,
            self.score_decimals,
        ).select(
            self.id_col,
            self.cid_col,
            sq2_codes(F.col(self.vec_col)).alias("code"),
        )
        vec_w = corpus.withColumn(_VB, _vb_of(self.id_col))

        # STATIC overwrite, pinned per-write: the session default here (and
        # in any pipeline session) is partitionOverwriteMode=dynamic, under
        # which a rebuild would only replace partitions present in the NEW
        # data — an IVF cell emptied by the corpus change would keep
        # advertising its old codes and serve deleted vectors. An EMPTY
        # corpus writes no partition files at all, leaving the table
        # directory unreadable — anchor it, same as a forget() that
        # empties every partition (an empty index is legal: serve returns
        # empty top-k, appends compose on the anchored layout)
        def _write(df: DataFrame, path: str, part_col: str):
            def write():
                (
                    df.write.mode("overwrite")
                    .option("partitionOverwriteMode", "static")
                    .partitionBy(part_col)
                    .parquet(path)
                )
                self._anchor_if_fileless(spark, path, df, part_col)

            return write

        if version is not None:
            fp = (-1, -1)
        _, _, _, (n, h), (cn, ch) = run_wave(
            _write(coded, self.codes_path, self.cid_col),
            _write(vec_w, self.vectors_path, _VB),
            lambda: centroids.write.mode("overwrite").parquet(
                self.centroids_path
            ),
            lambda: fp if fp is not None else self._fingerprint(corpus),
            lambda: cfp if cfp is not None
            else self._centroid_fingerprint(centroids),
        )
        self._write_meta(
            spark, n, h, cn, ch, version, serve_nprobe,
            sink_key=sink_key() if sink_key is not None else None,
        )

    def _write_meta(
        self,
        spark: SparkSession,
        fp_n: int,
        fp_h: int,
        cfp_n: int,
        cfp_h: int,
        version: str | None,
        serve_nprobe: int | None = None,
        sink_key: str | None = None,
    ) -> None:
        from yaml_pipe_spark.operators.index_meta import tiny_local_df

        tiny_local_df(
            spark,
            [
                (
                    fp_n,
                    fp_h,
                    cfp_n,
                    cfp_h,
                    version,
                    self.scale,
                    self.score_decimals,
                    _LAYOUT,
                    serve_nprobe,
                    sink_key,
                )
            ],
            _META_DDL,
        ).write.mode("overwrite").parquet(self.meta_path)

    def restamp(self, spark: SparkSession, meta: dict, sink_key: str) -> None:
        """Rewrite `meta`, a row this store's checks passed, with a new
        sink key and nothing else changed."""
        self._write_meta(
            spark, meta["fp_n"], meta["fp_h"], meta["cfp_n"], meta["cfp_h"],
            meta["version"], meta["serve_nprobe"], sink_key=sink_key,
        )

    def is_stale(
        self,
        corpus: DataFrame,
        version: str | None = None,
        centroids: DataFrame | None = None,
    ) -> bool:
        """True iff no index exists, build params changed, the CENTROIDS
        changed (a refit coarse quantizer invalidates every code), or the
        corpus moved on (by `version` when given, else by fingerprint
        scan)."""
        if version is not None:
            # version mode never scans the corpus
            return self.is_stale_for_fingerprint(
                corpus.sparkSession, -1, -1, version=version,
                centroids=centroids,
            )
        n, h = self._fingerprint(corpus.select(self.id_col, self.vec_col))
        return self.is_stale_for_fingerprint(
            corpus.sparkSession, n, h, centroids=centroids
        )

    def is_stale_for_fingerprint(
        self,
        spark: SparkSession,
        n: int,
        h: int,
        version: str | None = None,
        centroids: DataFrame | None = None,
        centroid_fp: tuple[int, int] | None = None,
        meta: dict | None | object = _META_UNREAD,
    ) -> bool:
        """is_stale() with the corpus fingerprint precomputed by the
        caller — the seam that lets a multi-store surface (retrievers.
        HybridRrfRetriever.staleness) fingerprint several arms in ONE
        corpus aggregate instead of one scan per proof (VERDICT r11 ask
        #4). Every non-fingerprint check is identical to is_stale().
        `centroid_fp` / `meta` let the caller prefetch the centroid
        fingerprint job and the meta read too (the hybrid surface runs
        all of its probes as one concurrent wave, guide §2.6)."""
        if meta is _META_UNREAD:
            meta = self._read_meta(spark)
        if meta is None:
            return True
        if (
            meta["scale"] != self.scale
            or meta["score_decimals"] != self.score_decimals
        ):
            return True
        # metas written under an older on-disk layout force a rebuild
        # rather than mixing partitioned and unpartitioned table files
        if meta.get("layout") != _LAYOUT:
            return True
        if centroids is not None or centroid_fp is not None:
            cn, ch = (
                centroid_fp
                if centroid_fp is not None
                else self._centroid_fingerprint(centroids)
            )
            # metas written before the centroid fingerprint existed force a
            # rebuild rather than silently serving an unverifiable index
            if (meta.get("cfp_n"), meta.get("cfp_h")) != (cn, ch):
                return True
        if version is not None:
            return meta["version"] != version
        return (meta["fp_n"], meta["fp_h"]) != (n, h)

    def build_if_stale(
        self,
        corpus: DataFrame,
        centroids: DataFrame,
        version: str | None = None,
    ) -> bool:
        """Rebuild when stale; returns whether a rebuild ran."""
        if not self.is_stale(corpus, version, centroids=centroids):
            return False
        self.build(corpus, centroids, version)
        return True

    def append(
        self, increment: DataFrame, version: str | None = None
    ) -> None:
        """Incremental index maintenance — the daily-increment mode: assign
        + encode ONLY the increment against the PERSISTED centroids and
        append its code/vector rows into the existing tables; no corpus
        rescan, no rebuild. Cost tracks the increment, exactly like
        incremental_minhash_dedup on the text side.

        The corpus fingerprint updates INCREMENTALLY and stays exact:
        count adds and the content hash is a bit_xor fold, which is
        order-free and composes over disjoint row sets — after any append
        chain, is_stale(full_corpus) still compares equal iff the indexed
        rows are exactly the corpus rows. (This is why the fingerprint is
        XOR, not a sum.)

        Contract: increment ids must be NEW — appending an already-indexed
        id duplicates its rows (and flips its hash back OUT of the
        fingerprint, so the next is_stale correctly reports the corruption
        rather than masking it). Re-ingestion of changed rows goes through
        build(). Centroids are frozen by design: a coarse-quantizer refit
        invalidates every code and must rebuild (is_stale's centroid
        fingerprint enforces this).
        """
        spark = increment.sparkSession
        meta = self._read_meta(spark)
        if meta is None:
            raise IndexNotBuiltError(
                "append() requires an existing index; build() first"
            )
        if (meta["version"] is None) != (version is None):
            # composing a real fingerprint with the version-mode (-1,-1)
            # sentinel would stamp garbage meta; fail at the caller's bug
            raise ValueError(
                "append() staleness mode must match the build: the index "
                f"was built with version={meta['version']!r}, append got "
                f"version={version!r}"
            )
        centroids = spark.read.parquet(self.centroids_path)
        inc = increment.select(self.id_col, self.vec_col)
        coded = ivf_assign(
            inc,
            centroids,
            self.vec_col,
            self.id_col,
            self.cid_col,
            self.cvec_col,
            self.score_decimals,
        ).select(
            self.id_col,
            self.cid_col,
            sq2_codes(F.col(self.vec_col)).alias("code"),
        )
        # the codes append, the vectors append, and the increment
        # fingerprint are three INDEPENDENT job chains over the same
        # (checkpoint-free, re-scanned) increment — submit them
        # concurrently; an append on a small increment is per-job
        # latency-bound, not data-bound (VERDICT r12 ask #5, the
        # across-arms trick applied across tables). The meta write stays
        # strictly LAST, so the crash contract is unchanged: any partial
        # table state before the meta commit reads as a stale fingerprint
        # and rebuilds.
        def _write_codes():
            coded.write.mode("append").partitionBy(self.cid_col).parquet(
                self.codes_path
            )

        def _write_vectors():
            (
                inc.withColumn(_VB, _vb_of(self.id_col))
                .write.mode("append")
                .partitionBy(_VB)
                .parquet(self.vectors_path)
            )

        fp_job = (
            [lambda: self._fp_of(inc, self.id_col, self.vec_col)]
            if meta["fp_n"] >= 0
            else []
        )
        _, _, *fp = run_wave(_write_codes, _write_vectors, *fp_job)
        nh = fp[0] if fp else None
        if nh is not None:
            n, h = nh
            fp_n, fp_h = meta["fp_n"] + n, meta["fp_h"] ^ h
        else:
            fp_n, fp_h = -1, -1  # version-managed index stays version-managed
        self._write_meta(
            spark,
            fp_n,
            fp_h,
            meta["cfp_n"],
            meta["cfp_h"],
            version if version is not None else meta["version"],
            meta.get("serve_nprobe"),
        )

    def forget(self, ids: DataFrame, version: str | None = None) -> int:
        """Right-to-be-forgotten purge: PHYSICALLY remove the given ids from
        the persisted codes and vectors tables, composing the fingerprint
        so is_stale(corpus-without-the-rows) compares equal afterwards.
        Returns the number of rows purged.

        Scale shape — file surgery proportional to the deletion, never a
        corpus rewrite: the deletion set is distinct'd and broadcast (RTBF
        requests are small by nature; a corpus-scale purge is a rebuild);
        only the cid cells / __vb buckets containing deleted ids are
        rewritten (dynamic partition overwrite), and partitions emptied
        entirely have their directories dropped — dynamic overwrite alone
        would leave them advertising deleted rows, the same hazard
        build() documents for rebuilds. The rewritten remainders are
        localCheckpoint'd first because Spark cannot overwrite a path it
        is still reading from; their size is bounded by the affected
        partitions, not the corpus.

        The removed rows' hashes come FROM THE STORED VECTORS (parquet
        round-trips long/array<double> exactly), so callers pass only ids
        and the XOR composition is exact: forget(ids) then
        is_stale(remaining) is False. Ids not present in the index are
        no-ops (the semi-join drops them) — unlike append(), forget is
        idempotent. Centroids are untouched: IVF centroids are a frozen
        coarse quantizer, not member data; a quantizer refit is build().
        Crash contract (same as append): meta is written LAST, so a crash
        mid-purge leaves a stale fingerprint and the next build_if_stale
        rebuilds cleanly.

        Lineage constraint (ADVICE r13): `ids` must NOT derive from this
        store's own codes/vectors tables — it is deliberately NOT
        materialized here (the r13 localCheckpoint removal), so its plan
        re-evaluates inside the partition rewrites, which overwrite those
        tables. Every in-repo caller passes ids derived from immutable
        source frames (the cmd_forget path additionally freezes them with
        a localCheckpoint before any delete starts)."""
        spark = ids.sparkSession
        meta = self._read_meta(spark)
        if meta is None:
            raise IndexNotBuiltError(
                "forget() requires an existing index; build() first"
            )
        if (meta["version"] is None) != (version is None):
            raise ValueError(
                "forget() staleness mode must match the build: the index "
                f"was built with version={meta['version']!r}, forget got "
                f"version={version!r}"
            )
        # the deletion set is deletion-proportional by contract and only
        # ever consumed under F.broadcast — re-deriving the tiny distinct
        # per consumer is cheaper than the localCheckpoint job this used
        # to pay up front
        ids = ids.select(self.id_col).distinct()
        vectors = spark.read.parquet(self.vectors_path)
        removed = vectors.join(
            F.broadcast(ids), self.id_col, "left_semi"
        ).select(self.id_col, self.vec_col)
        # the removed-rows fingerprint and the two affected-partition
        # probes all read the PRE-purge tables and are mutually
        # independent — one concurrent read wave instead of three
        # sequential jobs; the rewrites below start only after all three
        # complete, so nothing reads a table it is being rewritten under
        fp, aff_codes, aff_vecs = run_wave(
            (lambda: self._fp_of(removed, self.id_col, self.vec_col))
            if meta["fp_n"] >= 0
            else removed.count,
            lambda: self._affected_partitions(
                spark, self.codes_path, self.cid_col, ids
            ),
            lambda: self._affected_partitions(
                spark, self.vectors_path, _VB, ids
            ),
        )
        if meta["fp_n"] >= 0:
            n, h = fp
            fp_n, fp_h = meta["fp_n"] - n, meta["fp_h"] ^ h
        else:
            n = fp
            fp_n, fp_h = -1, -1
        if n > 0:
            # the codes purge and the vectors purge touch disjoint tables
            # — concurrent submission (VERDICT r12 ask #5); the removed
            # fingerprint above already read the PRE-purge vectors, and
            # the meta write below stays strictly last (crash mid-purge
            # still leaves a stale fingerprint that rebuilds cleanly)
            run_wave(
                lambda: self._rewrite_partitions(
                    spark, self.codes_path, self.cid_col, ids, aff_codes
                ),
                lambda: self._rewrite_partitions(
                    spark, self.vectors_path, _VB, ids, aff_vecs
                ),
            )
        self._write_meta(
            spark,
            fp_n,
            fp_h,
            meta["cfp_n"],
            meta["cfp_h"],
            version if version is not None else meta["version"],
            meta.get("serve_nprobe"),
        )
        return int(n)

    def _affected_partitions(
        self,
        spark: SparkSession,
        path: str,
        part_col: str,
        ids: DataFrame,
    ) -> list:
        """Partition values of `path` that contain rows of `ids` — the
        read-only probe half of the purge, split out so a caller can
        overlap it with other pre-purge reads."""
        table = spark.read.parquet(path)
        return [
            r[0]
            for r in table.join(F.broadcast(ids), self.id_col, "left_semi")
            .select(part_col)
            .distinct()
            .collect()
        ]

    def _purge_partitions(
        self,
        spark: SparkSession,
        path: str,
        part_col: str,
        ids: DataFrame,
    ) -> None:
        """Rewrite only the hive partitions of `path` that contain rows of
        `ids`; drop partitions the purge empties."""
        self._rewrite_partitions(
            spark, path, part_col, ids,
            self._affected_partitions(spark, path, part_col, ids),
        )

    def _rewrite_partitions(
        self,
        spark: SparkSession,
        path: str,
        part_col: str,
        ids: DataFrame,
        affected: list,
    ) -> None:
        """The write half of _purge_partitions: rewrite the given
        partitions minus `ids`, dropping partitions the purge empties."""
        table = spark.read.parquet(path)
        if not affected:
            return
        remaining = (
            table.filter(F.col(part_col).isin(affected))
            .join(F.broadcast(ids), self.id_col, "left_anti")
            # cluster by the partition column so the rewrite emits ONE
            # file per surviving partition dir instead of one per input
            # split per dir — a forget would otherwise multiply the
            # store's file count every time it runs (the small-file
            # regression compact() exists to undo)
            .repartition(F.col(part_col))
            .localCheckpoint()
        )
        (
            remaining.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(path)
        )
        kept = {
            r[0]
            for r in remaining.select(part_col).distinct().collect()
        }
        emptied = [v for v in affected if v not in kept]
        if emptied:
            _rm_partition_dirs(spark, path, part_col, emptied)
            # a purge that empties EVERY partition would leave the table
            # directory fileless — unreadable (UNABLE_TO_INFER_SCHEMA), so
            # a later serve()/forget() would crash even though the
            # composed fingerprint correctly reports the empty corpus as
            # fresh
            self._anchor_if_fileless(spark, path, remaining, part_col)

    @staticmethod
    def _anchor_if_fileless(
        spark: SparkSession,
        path: str,
        schema_src: DataFrame,
        part_col: str,
    ) -> None:
        """If `path` holds no data file, write one 0-row file (the data
        columns of `schema_src`) inside a `part_col=0` partition
        directory: the table stays readable with a uniform hive layout, so
        serve returns empty results, forget stays a no-op, and later
        appends compose. Reached by a forget() that empties every
        partition and by build() over an empty corpus."""
        if not _has_data_file(spark, path):
            (
                schema_src.drop(part_col)
                .limit(0)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, f"{part_col}=0"))
            )

    def compact(self) -> int:
        """Small-file compaction of the persisted tables. Every append()
        lands one part-file per touched partition per increment, so a long
        maintenance chain fragments the cid cells / __vb buckets into many
        small files and every serve pays the per-file open cost (the same
        fragmentation economics that make transactional table formats ship
        OPTIMIZE/rewrite_data_files). Rewrites ONLY the partitions holding
        more than one data file, coalescing each to a single file — file
        surgery proportional to FRAGMENTATION, not corpus size — and
        returns the number of partitions rewritten.

        Value-neutral by construction: rows, statistics, fingerprint and
        meta bytes are all untouched (serve before == serve after, pinned
        in tests), so compact needs no meta transaction: a crash before a
        partition's dynamic-overwrite commit leaves its original files,
        after it the coalesced file — the table is value-identical either
        way, and a rerun just finishes the remaining partitions. Batch it
        like the BM25 twin's compact(): per-append compaction would
        reintroduce the corpus-linear cost append() exists to avoid."""
        spark = SparkSession.getActiveSession()

        def _compact_table(path: str, col: str) -> int:
            frag = [
                v
                for v, n in _partition_file_counts(spark, path, col).items()
                if n > 1
            ]
            if not frag:
                return 0
            # both partition columns are ints (hive dir names are strings)
            vals = [int(v) for v in frag]
            table = spark.read.parquet(path)
            part = (
                table.filter(F.col(col).isin(vals))
                # one task per partition value -> exactly one output file
                # per rewritten partition (a hash collision merely lets
                # one task write two partitions' files, still one each)
                .repartition(len(vals), F.col(col))
                .localCheckpoint()
            )
            (
                part.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(col)
                .parquet(path)
            )
            return len(vals)

        # the codes and vectors tables are disjoint — their probe +
        # checkpoint + rewrite chains run as concurrent jobs (guide
        # §2.6); compact stays value-neutral per table exactly as before
        return sum(
            run_wave(
                lambda: _compact_table(self.codes_path, self.cid_col),
                lambda: _compact_table(self.vectors_path, _VB),
            )
        )

    # -- serve ----------------------------------------------------------
    def serve(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int | None = 2,
        rerank_m: int = 20,
        query_id: str = "qid",
        query_vec: str = "qv",
        schemas: dict[str, StructType] | None = None,
    ) -> DataFrame:
        """Top-k from the PERSISTED tables only — no assign/encode rerun.

        `nprobe=None` reads the probe budget STAMPED into the meta row by
        build(serve_nprobe=...) — the select_nprobe measurement travels
        with the index, so a retrain that re-tunes the budget changes
        every serve without touching call sites (falls back to 2 when
        the index predates the stamp). The meta read is a driver-side
        1-row collect at plan-build time, not part of the serve plan.

        Plan contract (asserted in tests/test_ann_index.py): exactly three
        parquet scans (centroids, codes, vectors); the probe set joins the
        codes scan as the BROADCAST side, so the index never shuffles; the
        closed-form code assignment (`floor(v*8)`) appears nowhere in the
        serve plan because codes come off disk.

        `schemas` (table_schemas() of the frames the index was built
        from) declares the three tables' schemas, so planning the serve
        launches no Spark job; without it each table's schema is
        inferred."""
        spark = queries.sparkSession
        if nprobe is None:
            meta = self._read_meta(spark)
            if meta is None:
                raise IndexNotBuiltError(
                    "serve(nprobe=None) requires an existing index"
                )
            stamped = meta.get("serve_nprobe")
            nprobe = int(stamped) if stamped is not None else 2

        from yaml_pipe_spark.operators.index_meta import read_table

        declared = schemas or {}
        centroids = read_table(
            spark, self.centroids_path, declared.get("centroids")
        )
        codes = read_table(
            spark, self.codes_path, declared.get("codes")
        ).withColumnRenamed("code", "__code")
        # the bucket column exists for forget()'s partition surgery only;
        # the re-rank join reads every bucket regardless
        vectors = read_table(
            spark, self.vectors_path, declared.get("vectors")
        ).drop(_VB)
        qprobe = _coarse_probes(
            queries,
            centroids,
            nprobe,
            query_id,
            query_vec,
            self.cid_col,
            self.cvec_col,
            self.score_decimals,
            with_residual=False,
        )
        # match the hive-inferred partition-column dtype (int) on the probe
        # side so the equi-join needs no cast above the pruned codes scan
        qprobe = qprobe.withColumn(
            self.cid_col,
            F.col(self.cid_col).cast(
                dict(codes.dtypes)[self.cid_col]
            ),
        )
        return _pq_serve(
            vectors,
            codes,
            F.broadcast(qprobe),
            self.scale,
            k,
            rerank_m,
            query_id,
            query_vec,
            self.vec_col,
            self.id_col,
            self.cid_col,
            self.score_decimals,
        )


def serve_query_stream(
    spark: SparkSession,
    store: IvfPqIndexStore,
    input_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    schema: str = "qid long, qv array<double>",
    k: int = 5,
    nprobe: int = 2,
    rerank_m: int = 20,
    query_id: str = "qid",
    query_vec: str = "qv",
    max_files_per_trigger: int | None = None,
) -> None:
    """The ANN production loop closed: a STREAM of queries served against
    the persisted index — build once (IvfPqIndexStore.build), then every
    query micro-batch runs the same three-tier serve (broadcast probes,
    pruned 2-bit ADC scan, broadcast re-rank) via foreachBatch and lands
    in `results_dir` partitioned by a content-derived batch key.

    Idempotency matches run_incremental_dedup_stream: the partition key
    __snap = min(query id) of the batch is content-derived (epoch ids are
    not replay-stable) and the write is a dynamic partition overwrite, so
    a crash-replay of a drained batch overwrites its own partition with
    identical rows. The contract is per BATCH SPLIT — exactly what crash
    replay re-reads from the checkpoint's offsets; re-draining the same
    input under a different split keys different partitions and needs a
    fresh results_dir. The serve itself is stateless over the index,
    which only changes through build_if_stale, between drains.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select(query_id, query_vec).localCheckpoint()
        row = batch.agg(F.min(query_id).alias("m")).collect()[0]
        if row["m"] is None:
            return
        out = store.serve(
            batch, k=k, nprobe=nprobe, rerank_m=rerank_m,
            query_id=query_id, query_vec=query_vec,
        )
        (
            out.withColumn("__snap", F.lit(int(row["m"])))
            .write.mode("overwrite")
            .partitionBy("__snap")
            .parquet(results_dir)
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
