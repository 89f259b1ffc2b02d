"""Deduplication operators for LLM training-data pipelines.

Not present in the reference (SURVEY §2.9 gap ledger) — added per the north
star: exact dedup, MinHash+LSH near-dup, SimHash, exact n-gram Jaccard
similarity join, and embedding-cosine near-dup. Every operator is built from
cross-engine-deterministic primitives (md5 hex strings) so the full pipeline —
shingle -> minhash -> band -> bucket-join -> verify — is checkable against a
DuckDB oracle.

Scale design (100 TB):
- shingling is a narrow explode; signatures are ONE groupBy with n_hashes
  min() aggregates (map-side partial min -> tiny shuffle);
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band_id, band_key); hot buckets are the skew risk -> AQE skew join plus an
  optional bucket-size cap (`max_bucket_size`) that drops degenerate buckets
  (standard practice: a bucket with 10k docs contributes 50M candidate pairs
  and almost no information);
- exact-Jaccard verification joins shingles only for candidate pairs;
- `df_max_freq` drops ultra-common shingles before pairing (document-
  frequency cut), the standard defense against stop-shingle blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yaml_pipe_spark.functions.hashing import hex_nibble_expr
from yaml_pipe_spark.functions.text import tokens
from yaml_pipe_spark.session import run_wave

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row summary: total docs, distinct contents, redundant copies."""
    h = F.sha2(F.col(text_col), 256)
    return df.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count("*") - F.countDistinct(h)).cast("long").alias("n_dup_docs"),
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each exact content group.
    Deterministic alternative to dropDuplicates (which keeps an arbitrary
    row): one shuffle on the content hash."""
    from pyspark.sql import Window as W

    h = F.sha2(F.col(text_col), 256)
    w = W.partitionBy(h).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def token_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Distinct word k-gram shingles per doc: (id_col, shingle).
    Docs with fewer than k tokens produce no shingles (and therefore opt out
    of near-dup detection, like too-short docs in production dedup)."""
    from yaml_pipe_spark.session import spread_for_expansion

    base = spread_for_expansion(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    ).filter(F.size("__t") >= k)
    # guard above keeps sequence() start<=stop (2-arg sequence would
    # auto-reverse on start>stop and fabricate shingles)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__t") - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.get(F.col("__t"), i + j - 1) for j in range(k)]
        ),
    )
    return base.select(F.col(id_col), F.explode(grams).alias("shingle")).distinct()


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", n_hashes: int = 16
) -> DataFrame:
    """(id, sig_0..sig_{n-1}): sig_s = MIN(md5(s || ':' || shingle)).

    The min of a seeded md5 hex string is a valid minhash (uniform order on
    hex strings) and is identical across engines. One groupBy, n_hashes
    partial-min aggregates — map-side combine makes the shuffle tiny.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"sig_{s}")
        for s in range(n_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


DEFAULT_MAX_BUCKET_SIZE = 10_000
DEFAULT_DF_MAX_FRAC = 0.005
DEFAULT_DF_MIN_CUT = 50


def lsh_band_table(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(id, band_id, band_key) — each doc's LSH band buckets, hot buckets
    dropped. band_key = md5(band || '|' || concat of the band's signature
    row). This frame is ALSO the persistable incremental-dedup state: write
    it as a parquet table after a corpus build and equi-join the next
    increment's bands against it (see incremental_minhash_dedup) — the
    MinHash analogue of the T2 content-hash ledger
    (reference utils/state_manager.py drives `has_changed` the same way,
    sources.py:79-81).

    `max_bucket_size` drops degenerate buckets (quadratic blowup guard) —
    ON by default (10k): one unguarded hot bucket (empty docs, boilerplate)
    is quadratic, the first thing that falls over at 100 TB. The trade:
    members of a dropped bucket can still pair through their other
    `bands - 1` band buckets, so recall degrades gracefully and only for
    degenerate near-identical blobs. Pass None to disable.
    """
    rows = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.lit(f"{b}|")] + [
            F.col(f"sig_{b * rows + r}") for r in range(rows)
        ]
        band_cols.append(F.md5(F.concat(*parts)).alias(f"band_{b}"))
    banded = sigs.select(F.col(id_col), *band_cols)
    stack_expr = ", ".join(f"{b}, band_{b}" for b in range(bands))
    buckets = banded.selectExpr(
        id_col, f"stack({bands}, {stack_expr}) as (band_id, band_key)"
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window as W

        w = W.partitionBy("band_id", "band_key")
        buckets = (
            buckets.withColumn("__n", F.count("*").over(w))
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
    return buckets


def band_table_pairs(
    buckets: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 band bucket:
    a band table self-equi-joined on (band_id, band_key). Callers that
    already hold a band table (incremental dedup, persisted state) use
    this directly instead of re-deriving the table from signatures."""
    a = buckets.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("id_a")
    )
    b = buckets.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH band bucket:
    the lsh_band_table self-equi-joined on (band_id, band_key)."""
    buckets = lsh_band_table(sigs, id_col, n_hashes, bands, max_bucket_size)
    return band_table_pairs(buckets, id_col)


def exact_jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    df_max_freq: int | None = None,
    df_max_frac: float | None = DEFAULT_DF_MAX_FRAC,
    df_min_cut: int = DEFAULT_DF_MIN_CUT,
    shingles_materialized: bool = False,
) -> DataFrame:
    """Exact Jaccard over shingle sets: (id_a, id_b, jaccard).

    With `candidates`, verifies only those pairs (the LSH path). Without, it
    is the exact similarity join via inverted index: pairs sharing >= 1
    shingle — never a cross join.

    The document-frequency skew guard is ON by default: a shingle kept in
    the inverted index must appear in <= max(floor(df_max_frac * n_docs),
    df_min_cut) documents (threshold computed inside the plan and
    broadcast — no extra action). A boilerplate shingle in 1% of a 10^9-doc
    corpus otherwise creates ~10^14 pairs in the shingle join; the
    id-level candidate cut below shrinks the join input but cannot bound a
    single hot shingle shared by the candidate docs themselves, so the df
    guard stays load-bearing. The floor keeps the cut inert at small corpora (df <= 50
    never bites under ~10k docs); the fraction is what matters at scale.
    Trade (documented, deliberate): sizes and intersections are computed on
    the FILTERED shingle sets, i.e. jaccard over non-boilerplate shingles —
    the standard web-dedup semantics. Absolute `df_max_freq` overrides;
    `df_max_frac=None` disables.

    `shingles_materialized=True` promises the shingle frame is ALREADY
    materialized (a caller-held localCheckpoint) so the staged pipeline
    skips its own defensive copy of it — re-checkpointing a checkpoint
    is a full extra pass over the index's biggest frame for nothing.
    """
    overlap = _pair_overlap(
        shingles, candidates, id_col, df_max_freq, df_max_frac, df_min_cut,
        shingles_materialized=shingles_materialized,
    )
    return overlap.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
        ).alias("jaccard"),
    )


def containment_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    df_max_freq: int | None = None,
    df_max_frac: float | None = DEFAULT_DF_MAX_FRAC,
    df_min_cut: int = DEFAULT_DF_MIN_CUT,
) -> DataFrame:
    """Broder containment over shingle sets: (id_a, id_b, cont_a, cont_b)
    with cont_a = |A∩B| / |A| (fraction of A's shingles inside B).

    Containment is the ASYMMETRIC near-dup measure Jaccard misses: a short
    doc fully quoted inside a long one has cont_short = 1.0 while Jaccard
    stays low (the union is dominated by the long doc), so quote/subset
    contamination passes a Jaccard threshold undetected. Same inverted-
    index join, guards, and candidate cuts as exact_jaccard_pairs.
    """
    overlap = _pair_overlap(
        shingles, candidates, id_col, df_max_freq, df_max_frac, df_min_cut
    )
    return overlap.select(
        "id_a",
        "id_b",
        F.round(F.col("inter") / F.col("na"), 4).alias("cont_a"),
        F.round(F.col("inter") / F.col("nb"), 4).alias("cont_b"),
    )


def _pair_overlap(
    shingles: DataFrame,
    candidates: DataFrame | None,
    id_col: str,
    df_max_freq: int | None,
    df_max_frac: float | None,
    df_min_cut: int,
    shingles_materialized: bool = False,
) -> DataFrame:
    """Shared verify core: (id_a, id_b, inter, na, nb) for pairs sharing
    >= 1 (df-guarded) shingle — the plan shape documented on
    exact_jaccard_pairs.

    STAGED MATERIALIZATION (localCheckpoint), deliberately: the shingle
    table feeds the df-cut twice (freq, threshold) and the cut index
    feeds THREE consumers (sizes, the a side, the b side); the candidate
    set feeds three cuts. Without materialization Catalyst re-derives
    each branch from the source — branch-specific filters make the
    subtrees differ so ReuseExchange never unifies them, and the plan
    re-scans and re-explodes the corpus once per consumer (measured:
    12-18 source scans per dedup query at sf0.01; at 100 TB that is the
    whole job done a dozen times). Writing each stage once and reading it
    per consumer is the standard staged-pipeline design; the checkpoint
    sizes are shingle-scale (index) and candidate-scale (pairs)."""
    sh = shingles if shingles_materialized else shingles.localCheckpoint()
    if candidates is not None:
        candidates = candidates.localCheckpoint()
    if df_max_freq is not None or df_max_frac is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        if df_max_freq is not None:
            kept = freq.filter(F.col("__df") <= df_max_freq)
        else:
            thr = sh.agg(
                F.greatest(
                    F.floor(F.lit(df_max_frac) * F.countDistinct(id_col)),
                    F.lit(df_min_cut).cast("long"),
                ).alias("__thr")
            )
            kept = freq.crossJoin(F.broadcast(thr)).filter(
                F.col("__df") <= F.col("__thr")
            )
        sh = sh.join(kept.select("shingle"), "shingle").select(
            id_col, "shingle"
        ).localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if candidates is not None:
        # id-level cut BEFORE the pair-generating self-join: a shingle row
        # for a doc that appears in no candidate pair can never contribute
        # to a verified pair, so semi-joining each inverted-index side
        # against its candidate id set shrinks the self-join input (and
        # therefore the verify shuffle) — at extreme scale the candidate
        # set is tiny relative to the corpus and this is the dominant cut.
        # Per-doc shingle sizes are computed on the UNCUT (df-filtered) sh
        # above, so jaccard semantics are unchanged: the id-level filter
        # removes whole docs from pairing, never shingles from a doc.
        a = a.join(candidates.select("id_a"), "id_a", "left_semi")
        b = b.join(candidates.select("id_b"), "id_b", "left_semi")
    pair_shingles = a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
    if candidates is not None:
        # pair-level cut BEFORE the count agg so non-candidate pairs never
        # enter the (id_a, id_b) shuffle (id-level membership is necessary
        # but not sufficient: a and b may each be in SOME candidate pair
        # without (a, b) being one)
        pair_shingles = pair_shingles.join(
            candidates.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
        )
    inter = pair_shingles.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return inter.join(na, "id_a").join(nb, "id_b")


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    bucket-join -> exact-Jaccard verify -> threshold. Both skew guards
    (bucket cap here, document-frequency cut inside the verify step) are on
    by default — see lsh_candidate_pairs / exact_jaccard_pairs."""
    shingles = token_shingles(df, text_col, id_col, k)
    sigs = minhash_signatures(shingles, id_col, n_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, n_hashes, bands, max_bucket_size)
    verified = exact_jaccard_pairs(shingles, cands, id_col)
    return verified.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Incremental (cross-snapshot) MinHash dedup
# ---------------------------------------------------------------------------


def minhash_band_state(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """The persistable LSH state for a standing corpus: (id, band_id,
    band_key), hot buckets already excluded at build time. At 100 TB this
    is written once per corpus build (bands * n_docs rows — tiny next to
    the corpus) and every daily increment joins against it instead of
    re-scanning 100 TB of standing text."""
    shingles = token_shingles(docs, text_col, id_col, k)
    sigs = minhash_signatures(shingles, id_col, n_hashes)
    return lsh_band_table(sigs, id_col, n_hashes, bands, max_bucket_size)


def merge_band_state(
    prior_state: DataFrame,
    new_bands: DataFrame,
    id_col: str = "doc_id",
    new_ids: DataFrame | None = None,
) -> DataFrame:
    """Upsert an increment's band rows into the standing state (same
    supersede-by-id contract as state.merge_ledger): rows for re-ingested
    ids are replaced wholesale, everything else carries over. Pass
    `new_ids` (the increment's FULL id frame) so an id whose new text
    yields ZERO band rows — under-k-token or emptied doc — still evicts
    its stale rows; keying the eviction off `new_bands` alone would keep
    advertising bands for content that no longer exists."""
    keys = (
        new_ids.select(id_col) if new_ids is not None
        else new_bands.select(id_col)
    ).distinct()
    kept = prior_state.join(keys, id_col, "left_anti")
    return kept.unionByName(new_bands)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    band_state: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    new_shingles: DataFrame | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup an increment against a standing corpus WITHOUT re-pairing the
    standing corpus against itself — the operational mode at 100 TB, where
    the daily increment is ~0.1% of the data and whole-corpus
    minhash_near_duplicates would redo 99.9% of the work every day.

    Contract (ids must be assigned so standing ids < increment ids, the
    natural monotone-ingest layout):
      1. shingle/sign/band ONLY the increment;
      2. new-vs-old candidates = one equi-join of the increment's bands
         against `band_state` on (band_id, band_key) — the standing corpus
         TEXT is never scanned for candidate generation;
      3. new-vs-new candidates = the usual banded self-join WITHIN the
         increment;
      4. exact-Jaccard verify re-shingles ONLY the standing docs that
         appear as candidates (left-semi cut on `corpus_docs` before
         tokenizing — candidate-scale, not corpus-scale);
      5. verdict per increment doc: dropped iff a verified pair links it
         to ANY lower-id doc; `dup_of` = the smallest such partner
         (greedy min-id representative, the same rule the whole-corpus
         path's keep-lowest-id resolution applies).

    Verify uses RAW shingle sets (no document-frequency cut): the df
    statistic is a whole-corpus quantity an increment cannot see, and the
    hot-shingle blowup the cut guards against is already bounded here by
    the band-bucket caps on both the state (build time) and the increment.

    Returns one row PER INCREMENT DOC: (id, dup_of, jaccard, reason) with
    reason in ('dup_old', 'dup_new', 'kept'); dup_of/jaccard are NULL for
    kept docs. Re-running after merge_band_state is idempotent: a doc
    never pairs with itself (strict id inequality), so verdicts are
    stable.
    """
    # callers that ALSO need the increment's shingles/bands (the streaming
    # loop shingles once, dedups, then merges the same bands into state)
    # pass them in so the dominant per-increment cost is paid once
    if new_shingles is None:
        new_shingles = token_shingles(new_docs, text_col, id_col, k)
    if new_bands is None:
        new_sigs = minhash_signatures(new_shingles, id_col, n_hashes)
        new_bands = lsh_band_table(
            new_sigs, id_col, n_hashes, bands, max_bucket_size
        )
    # new-vs-old: increment bands probe the standing state. Alias the state
    # id; the join key is (band_id, band_key), high-cardinality by design.
    state = band_state.select(
        F.col(id_col).alias("id_a"), "band_id", "band_key"
    )
    cands_old = (
        new_bands.select("band_id", "band_key", F.col(id_col).alias("id_b"))
        .join(state, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cands_new = band_table_pairs(new_bands, id_col)
    cands = cands_old.unionByName(cands_new).distinct()
    # verify: only candidate standing docs get re-shingled. Increment ids are
    # excluded FIRST: in the rerun-after-merge_band_state mode corpus_docs
    # already contains the increment, and re-shingling those ids would union
    # duplicate shingle rows into verify_shingles, inflating set sizes and
    # intersections (jaccard could exceed 1.0 and borderline pairs could
    # flip) — breaking the idempotent-rerun contract below.
    cand_old_docs = (
        corpus_docs.join(new_docs.select(id_col), id_col, "left_anti")
        .join(
            cands.select(F.col("id_a").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
    )
    verify_shingles = new_shingles.unionByName(
        token_shingles(cand_old_docs, text_col, id_col, k)
    )
    verified = exact_jaccard_pairs(
        verify_shingles, cands, id_col, df_max_frac=None
    ).filter(F.col("jaccard") >= threshold)
    # verdict: smallest lower-id partner wins; struct-min keeps the
    # (partner, jaccard) pair consistent in one aggregation
    best = (
        verified.groupBy(F.col("id_b").alias(id_col))
        .agg(F.min(F.struct("id_a", "jaccard")).alias("__m"))
        .select(
            id_col,
            F.col("__m.id_a").alias("dup_of"),
            F.col("__m.jaccard").alias("jaccard"),
        )
    )
    split = new_docs.agg(F.min(id_col).alias("__split"))
    return (
        new_docs.select(id_col)
        .join(best, id_col, "left")
        .crossJoin(F.broadcast(split))
        .select(
            id_col,
            "dup_of",
            "jaccard",
            F.when(F.col("dup_of").isNull(), F.lit("kept"))
            .when(F.col("dup_of") < F.col("__split"), F.lit("dup_old"))
            .otherwise(F.lit("dup_new"))
            .alias("reason"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, simhash) — simhash as a `bits`-char '0'/'1' string.

    Term-frequency-weighted: bit j of the fingerprint is 1 iff
    sum over distinct tokens of tf * (2*bit_j(md5(token)) - 1) > 0.
    The bit-string form keeps the value engine-portable (no int64 overflow
    or sign semantics to reconcile).
    """
    from yaml_pipe_spark.session import spread_for_expansion

    tok = spread_for_expansion(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    tf = tok.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    tf = tf.withColumn("h", F.md5(F.col("tok")))
    # One aggregate column per bit instead of exploding (doc, token) x bits
    # into rows: a single groupBy over the (doc, token) rows with `bits`
    # partial sums — no 64x row blowup, one shuffle. (Values identical to
    # the exploded formulation; the DuckDB oracle keeps the exploded form.)
    # The hex digest is decoded once per 32-bit word with conv(); bit j of
    # word w is then (word >> (31 - j%32)) & 1 — integer ops instead of
    # `bits` per-row substring/strpos lookups, same big-endian bit order.
    n_words = (bits + 31) // 32
    for w in range(n_words):
        word = F.conv(F.substring(F.col("h"), 8 * w + 1, 8), 16, 10).cast("long")
        tf = tf.withColumn(f"__w{w}", word)
    bit_sums = []
    for j in range(bits):
        bit = F.shiftright(F.col(f"__w{j // 32}"), 31 - j % 32) % 2
        bit_sums.append(F.sum(F.col("tf") * (bit * 2 - 1)).alias(f"s{j}"))
    sums = tf.groupBy(id_col).agg(*bit_sums)
    fp = F.concat(
        *[
            F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(bits)
        ]
    )
    return sums.select(F.col(id_col), fp.alias("simhash"))


def hamming_distance(a: Column, b: Column, bits: int = 64) -> Column:
    """Differing positions between two equal-length bit-strings.

    Decoded 16-bit-word-wise with conv() then XOR + bit_count — integer ops
    instead of `bits` dynamic-position substrings per pair (the substring
    form was ~25x slower on candidate-pair volumes where near-dup clusters
    make the verify the dominant stage). Values are the plain Hamming count
    either way; the DuckDB twin keeps the positional form:
    len(list_filter(generate_series(1, bits),
    i -> substr(a, i, 1) <> substr(b, i, 1)))."""
    words = []
    for w in range(0, bits, 16):
        wa = F.conv(F.substring(a, w + 1, 16), 2, 10).cast("long")
        wb = F.conv(F.substring(b, w + 1, 16), 2, 10).cast("long")
        words.append(F.bit_count(wa.bitwiseXOR(wb)))
    out = words[0]
    for x in words[1:]:
        out = out + x
    return out.cast("long")


def simhash_near_duplicates(
    fps: DataFrame,
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: pairs identical on >= 1 of `bands`
    contiguous bit-bands, verified by exact Hamming <= max_hamming."""
    width = bits // bands
    stack_expr = ", ".join(
        f"{b}, substring(simhash, {b * width + 1}, {width})" for b in range(bands)
    )
    buckets = fps.selectExpr(
        id_col, "simhash", f"stack({bands}, {stack_expr}) as (band_id, band_key)"
    )
    # Pair generation via groupBy + in-bucket expansion instead of a bucket
    # self-join: a self-join evaluates the (expensive) fingerprint aggregation
    # once per join side, while collect_list computes it once and shuffles
    # each bucket's members to one reducer. Buckets are tiny by construction
    # (a full 16-bit band must match), so the |bucket|^2 expansion is cheap
    # and the skew guard is the same max-bucket-size filter as MinHash LSH.
    grouped = (
        buckets.groupBy("band_id", "band_key")
        .agg(F.collect_list(F.struct(F.col(id_col), F.col("simhash"))).alias("g"))
        .filter(F.size("g") >= 2)
    )
    pairs = (
        grouped.select(F.explode("g").alias("a"), "g")
        .select("a", F.explode("g").alias("b"))
        .filter(F.col("a")[id_col] < F.col("b")[id_col])
        .select(
            F.col("a")[id_col].alias("id_a"),
            F.col("b")[id_col].alias("id_b"),
            F.col("a")["simhash"].alias("fa"),
            F.col("b")["simhash"].alias("fb"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", hamming_distance(F.col("fa"), F.col("fb"), bits))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def substring_span_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    df_max_frac: float | None = DEFAULT_DF_MAX_FRAC,
    df_min_cut: int = DEFAULT_DF_MIN_CUT,
) -> DataFrame:
    """Docs containing an exact >= k-token span that also appears in a
    LOWER-id doc: (id_col, n_dup_spans) for the affected docs.

    This is the bucketed approximation of suffix-array substring dedup
    (the "dedup exact substrings >= 50 tokens" recipe from the training-
    data literature): any repeated span of >= k tokens necessarily shares
    its first k-token gram, so a k-gram inverted index finds exactly the
    docs with a repeated span; n_dup_spans counts the doc's distinct
    k-grams seen in earlier docs (a span of length L contributes L-k+1).
    Lowest-id doc keeps the span (same keeper rule as exact dedup).

    Scale: one shuffle to build the (gram -> min id) index via partial-min
    agg (map-side combine), then an equi-join of grams against their
    index row — never a pair explosion, O(total grams). The df guard from
    exact_jaccard_pairs applies the same way: boilerplate grams above the
    frequency cut opt out (documented trade; the guard is what survives a
    hot header at 100 TB).
    """
    # same staged-materialization rationale as _pair_overlap: the gram
    # table feeds freq/threshold/cut, and the cut index feeds the owner
    # agg AND the join back — materialize each stage once
    sh = token_shingles(df, text_col, id_col, k).localCheckpoint()
    if df_max_frac is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        thr = sh.agg(
            F.greatest(
                F.floor(F.lit(df_max_frac) * F.countDistinct(id_col)),
                F.lit(df_min_cut).cast("long"),
            ).alias("__thr")
        )
        kept = freq.crossJoin(F.broadcast(thr)).filter(
            F.col("__df") <= F.col("__thr")
        )
        sh = sh.join(kept.select("shingle"), "shingle").select(
            id_col, "shingle"
        ).localCheckpoint()
    owner = sh.groupBy("shingle").agg(F.min(id_col).alias("__owner"))
    return (
        sh.join(owner, "shingle")
        .filter(F.col(id_col) > F.col("__owner"))
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_dup_spans"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    block_col: str | None = None,
    score_decimals: int = 6,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine >= threshold.

    Without `block_col` this is a brute-force O(n^2/2) self-join — the
    exactness baseline for recall measurement, NEVER the production path.
    It is gated: callers must pass `allow_quadratic=True` to get the cross
    join, so nobody reaches the quadratic plan by default. At scale pass
    `block_col` (e.g. an LSH sign-bucket or cluster id) to turn it into an
    equi-join within blocks; see similarity.signlsh_knn_join for top-k.

    Zero-norm vectors OPT OUT of pairing (filtered before the join): their
    cosine is undefined (0/0 — DIVIDE_BY_ZERO under ANSI, NaN in numpy/
    DuckDB, so any pass-through choice forks across engines). Same
    precedent as too-short docs opting out of shingle dedup. The Arrow
    twin applies the identical rule.
    """
    from yaml_pipe_spark.functions.vectors import dot, l2_norm_sq

    if block_col is None and not allow_quadratic:
        raise ValueError(
            "cosine_pairs without block_col is O(n^2); pass block_col for "
            "the blocked scale path, or allow_quadratic=True if you really "
            "want the brute-force exactness baseline"
        )

    # Precompute each vector's squared norm BEFORE the pair join: the naive
    # cosine(a, b) recomputes dot(a,a)/dot(b,b) per pair — 3x the flops and
    # the dominant cost of an O(n^2) join. Same value bit-for-bit
    # (dot / sqrt(na*nb) with identical fold order), ~3x faster.
    keys = ["__blk"] if block_col else []
    # spread the build side: a small parquet input arrives in 1-2 partitions,
    # which would serialize the O(n^2) scoring on a couple of cores
    par = df.sparkSession.sparkContext.defaultParallelism
    a = df.repartition(par).select(
        *([F.col(block_col).alias("__blk")] if block_col else []),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm_sq(F.col(vec_col)).alias("__na"),
    ).filter(F.col("__na") > 0)
    b = df.select(
        *([F.col(block_col).alias("__blk")] if block_col else []),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm_sq(F.col(vec_col)).alias("__nb"),
    ).filter(F.col("__nb") > 0)
    pairs = (a.join(b, keys) if keys else a.crossJoin(b)).filter(
        F.col("id_a") < F.col("id_b")
    )
    score = F.round(
        dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("__na") * F.col("__nb")),
        score_decimals,
    )
    return (
        pairs.withColumn("cosine", score)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_pairs_arrow(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    score_decimals: int = 6,
    max_rows: int = 100_000,
) -> DataFrame:
    """Arrow twin of the quadratic `cosine_pairs` baseline — identical
    output bit-for-bit, at numpy speed (~50x on the interpreted fold).

    Shape mirrors similarity.knn_join_arrow: the (guarded) full id+vector
    set is collected once and closed over by a corpus-side mapInPandas, so
    each task scores its rows against every HIGHER id (id_a < id_b, each
    unordered pair exactly once) and emits raw scores within a rounding
    margin of the threshold; F.round runs JVM-side so the HALF_UP decimal
    contract — and therefore the DuckDB oracle hash — is untouched.

    Bit-exactness: dots and squared norms via np.cumsum(...)[..., -1]
    (left-to-right IEEE sequence, identical to the zip_with fold and the
    oracle's list_sum); *, /, sqrt are single correctly-rounded IEEE ops.
    This is still the sanctioned-quadratic exactness baseline, not the
    production path — at scale use cosine_pairs(block_col=...) or the
    LSH/IVF joins.
    """
    import numpy as np

    rows = df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"cosine_pairs_arrow collects the vector set to the driver; got "
            f"> {max_rows} rows — use the blocked/LSH paths at scale"
        )
    order = sorted(range(len(rows)), key=lambda i: rows[i][0])
    ids_all = np.array([rows[i][0] for i in order])
    V = np.array([list(rows[i][1]) for i in order], dtype=np.float64)
    vn = np.cumsum(V * V, axis=1)[:, -1]
    margin = 1.01 * (10.0 ** -score_decimals)
    id_t = dict(df.dtypes)[id_col]
    out_schema = f"id_a {id_t}, id_b {id_t}, __raw double"

    def score(batches):
        import pandas as pd

        for pdf in batches:
            m = len(pdf)
            if m == 0 or len(ids_all) == 0:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(
                np.float64, copy=False
            )
            aid = pdf[id_col].to_numpy()
            an = np.cumsum(A * A, axis=1)[:, -1]
            out_a, out_b, out_s = [], [], []
            # (csz x n x d) doubles peak ~ 32 MB per task
            csz = max(1, (1 << 22) // max(1, len(ids_all) * V.shape[1]))
            for c0 in range(0, m, csz):
                c1 = min(c0 + csz, m)
                prod = A[c0:c1, None, :] * V[None, :, :]
                dots = np.cumsum(prod, axis=-1)[..., -1]
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = dots / np.sqrt(an[c0:c1, None] * vn[None, :])
                # Zero-norm vectors opt out of pairing (cosine_pairs
                # filters __na/__nb > 0 before its join); NaN scores from
                # 0/0 correctly fail the >= comparison here, implementing
                # the SAME rule rather than silently diverging from it.
                keep = (S >= threshold - margin) & (
                    aid[c0:c1, None] < ids_all[None, :]
                )
                ai, bj = np.nonzero(keep)
                out_a.extend(aid[c0 + ai].tolist())
                out_b.extend(ids_all[bj].tolist())
                out_s.extend(S[ai, bj].tolist())
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "__raw": out_s}
            )

    cands = df.select(id_col, vec_col).mapInPandas(score, out_schema)
    return (
        cands.withColumn("cosine", F.round(F.col("__raw"), score_decimals))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def _cc_partitions(
    n_edges: int, parallelism: int, target_edges_per_partition: int
) -> int:
    """Iteration partition count from the *measured* edge count: enough
    partitions that a round's shuffle fits executor memory, few enough that
    tiny near-dup graphs aren't scheduling-bound. Capped at 4x cluster
    parallelism — past that, extra partitions only add task overhead."""
    want = -(-n_edges // max(1, target_edges_per_partition))
    return max(2, min(want, max(2, parallelism * 4)))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    target_edges_per_partition: int = 2_000_000,
) -> DataFrame:
    """Resolve pairwise matches into clusters: (node, cluster_rep) where
    cluster_rep = the minimum node id reachable through the pair graph.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converged when no label changes.
    Rounds needed ~ graph diameter (near-dup clusters are tiny, so 2-4 in
    practice); each round is one shuffle (join + groupBy min). Lineage is cut
    with localCheckpoint per round so plans don't grow exponentially — the
    standard Spark shape for iterative algorithms (GraphFrames' CC does the
    doubling variant of the same loop). The driver holds only the converged
    flag, never the data.

    DuckDB twin: WITH RECURSIVE reachability + min per node (see
    entrypoints.dedup_cluster_resolution).
    """
    # The pair graph is usually orders of magnitude smaller than the corpus
    # (only matched docs appear) — but "usually" is not a partition strategy:
    # a dirty corpus at 100 TB can emit a huge pair graph. Materialize the
    # expensive pair-generation plan once (eager checkpoint), count the edges
    # (cheap on checkpointed data), and size the iteration partitioning from
    # the actual edge count: tiny graphs collapse to a couple of partitions
    # (per-round cost becomes scheduling-bound, not shuffle-bound), large
    # graphs keep enough partitions that each round's shuffle fits memory.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_parts = _cc_partitions(
        edges.count(),
        pairs.sparkSession.sparkContext.defaultParallelism,
        target_edges_per_partition,
    )
    def _sized(df: DataFrame) -> DataFrame:
        # coalesce when shrinking (narrow); repartition when the measured
        # edge count demands more partitions than AQE's byte-based coalesce
        # left us (one shuffle that right-sizes every subsequent round).
        # `.rdd` here is deliberate (unlike session.spread_for_expansion,
        # which probes file scans): both callers pass frames that are —
        # or are one narrow step from — an eager localCheckpoint, so the
        # DAG conversion is driver-side planning only, and there is no
        # file listing to probe instead.
        cur = df.rdd.getNumPartitions()
        if n_parts < cur:
            df = df.coalesce(n_parts)
        elif n_parts > cur:
            df = df.repartition(n_parts)
        return df.localCheckpoint(eager=True)

    edges = _sized(edges)
    labels = _sized(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        nxt = F.least(
            F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
        )
        # carry the per-node change flag THROUGH the round's checkpoint:
        # the convergence probe then scans the already-materialized frame
        # instead of paying a second join of new labels against old ones
        # (was: one extra node-keyed join job per round)
        new_labels = _sized(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                nxt.alias("label"),
                (nxt < F.col("label")).alias("__chg"),
            )
        )
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_rep"))


def _kept_segments_expr():
    """Aggregate expression shared by the audit hash and the rewriting
    filter: the non-boilerplate segments of one document, re-joined in
    grid order — ONE definition so the two consumers can never diverge."""
    return F.array_join(
        F.transform(
            F.filter(
                F.array_sort(F.collect_list(F.struct("s", "seg", "dup"))),
                lambda x: ~x["dup"],
            ),
            lambda x: x["seg"],
        ),
        " ",
    )


def segment_exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 16,
) -> DataFrame:
    """C4-style cross-document exact segment dedup with DETERMINISTIC
    segmentation: each document splits into disjoint `seg_words`-token
    blocks in order (last block may be short), and a block is boilerplate
    iff its exact text occurs in more than one distinct document. Returns
    the per-document audit a curation pipeline acts on:
    (doc_id, n_segments, n_dup_segments, n_kept_tokens, cleaned_hash) —
    cleaned_hash is sha256 of the surviving blocks re-joined in order, so
    the oracle pins the reconstructed cleaned text, not just the counts.

    C4 dedups on newline-delimited lines (Raffel et al. 2020 §2.2); the
    corpus here is single-line, so the fixed token grid is the
    deterministic stand-in — unlike sentence splitting it is
    reshard-proof and engine-identical.

    Scale shape: the segment->distinct-doc-count aggregate and the join
    back are both keyed on the segment text (high cardinality, one
    shuffle each; the join reuses the aggregate's partitioning). A
    window-over-segment alternative would collect doc-id sets per
    segment in executor memory — a hot boilerplate segment appearing in
    millions of documents would blow that up, so the agg+join form is
    the 100 TB-safe one. The per-doc rollup rides one shuffle on doc id;
    collect_list there is bounded by a single document's segment count.
    """
    marked = segment_marked(df, text_col, id_col, seg_words)
    kept_sorted = _kept_segments_expr()
    return marked.groupBy(F.col("id").alias(id_col)).agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum(F.col("dup").cast("int")).cast("long").alias("n_dup_segments"),
        F.sum(
            F.when(F.col("dup"), 0).otherwise(
                F.size(F.split(F.col("seg"), " "))
            )
        ).cast("long").alias("n_kept_tokens"),
        F.sha2(kept_sorted, 256).alias("cleaned_hash"),
    )


def segment_marked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 16,
) -> DataFrame:
    """Shared first stage of segment dedup: (id, s, seg, dup) — every
    disjoint `seg_words`-token block with its in-doc start position and
    the cross-document boilerplate flag (exact text in >1 distinct doc).
    Consumed by the audit rollup (segment_exact_dedup) and the content
    rewrite (plans/factory.py SegmentDedupFilter)."""
    base = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("tk")
    )
    n = int(seg_words)
    seg_structs = F.expr(
        f"transform(sequence(1, size(tk), {n}), "
        f"s -> struct(s AS s, array_join(slice(tk, s, {n}), ' ') AS seg))"
    )
    segs = base.select("id", F.explode(seg_structs).alias("x")).select(
        "id", F.col("x.s").alias("s"), F.col("x.seg").alias("seg")
    )
    counts = segs.groupBy("seg").agg(F.countDistinct("id").alias("ndocs"))
    return segs.join(counts, "seg").select(
        "id", "s", "seg", (F.col("ndocs") > 1).alias("dup")
    )


def segment_cleaned_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 16,
) -> DataFrame:
    """(id, cleaned) — each document's text with cross-document
    boilerplate segments removed, blocks re-joined in order. Documents
    whose every block is boilerplate come back with cleaned = ''."""
    marked = segment_marked(df, text_col, id_col, seg_words)
    kept_sorted = _kept_segments_expr()
    return marked.groupBy(F.col("id")).agg(kept_sorted.alias("cleaned"))


def lsh_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Measured recall of the MinHash-LSH candidate generator against the
    exact inverted-index Jaccard pairs at `threshold` — the dedup twin of
    recall_at_k for ANN: the number that tells you whether the banding
    parameters (n_hashes, bands) are missing real near-duplicates before
    you ship the pipeline. Returns one row:
    (n_true_pairs, n_candidates, n_hit, recall).

    The shingle frame feeds both sides (truth and signatures), so it is
    materialized once; truth and candidate frames are small (pairs above
    threshold / banded collisions) and are checkpointed because each is
    consumed twice (own count + the intersection semi-join).
    """
    shingles = token_shingles(df, text_col, id_col, k).localCheckpoint()
    # truth (the exact inverted-index pair join) and candidates (the banded
    # self-join) both read only the checkpointed shingles and meet only at
    # the intersection, so their materializations are submitted as
    # concurrent jobs — the scheduler back-fills the heavier truth join's
    # task tail with the candidate side's tasks instead of running the two
    # jobs end to end (guide §2.6)
    truth, cands = run_wave(
        lambda: exact_jaccard_pairs(
            shingles, id_col=id_col, shingles_materialized=True
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
        .localCheckpoint(),
        lambda: lsh_candidate_pairs(
            minhash_signatures(shingles, id_col, n_hashes),
            id_col,
            n_hashes,
            bands,
        ).localCheckpoint(),
    )
    hit = truth.join(cands, ["id_a", "id_b"], "left_semi")
    nt = truth.agg(F.count("*").alias("n_true_pairs"))
    nc = cands.agg(F.count("*").alias("n_candidates"))
    nh = hit.agg(F.count("*").alias("n_hit"))
    return (
        nt.join(F.broadcast(nc))
        .join(F.broadcast(nh))
        .select(
            F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(
                F.when(F.col("n_true_pairs") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hit") / F.col("n_true_pairs").cast("double")
                ),
                4,
            ).alias("recall"),
        )
    )


def lsh_band_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands_list: tuple[int, ...] = (2, 4, 8),
    threshold: float = 0.8,
) -> DataFrame:
    """Recall of the MinHash-LSH candidate generator at several banding
    configurations against ONE exact truth set — the band-budget tuning
    curve (the dedup twin of the IVF nprobe curve): more bands with
    fewer rows each = more candidates and higher recall but a bigger
    verify join; the curve is how you pick the operating point before a
    100 TB run. Returns one row per config:
    (bands, n_candidates, n_hit, n_true_pairs, recall).

    Shingles, signatures, and the truth set are each materialized once
    and shared across every configuration — and (r6) the configurations
    themselves ride ONE multi-band pass: every config's band rows stack
    into a single (cfg, band_id, band_key) table, so the bucket-cap
    window, the candidate self-join, the distinct, and the truth
    semi-join each run once over the stacked keys instead of once per
    config (values identical — cfg is part of every join/window key).
    """
    from functools import reduce

    from pyspark.sql import Window as W

    shingles = token_shingles(df, text_col, id_col, k).localCheckpoint()
    # the two HEAVY jobs over the checkpointed shingles — the exact truth
    # join and the signatures -> stacked banded self-join chain — are
    # independent until the intersection, so each chain materializes in
    # its own thread and the scheduler back-fills one job's task tail
    # with the other's tasks (guide §2.6)
    def _truth() -> DataFrame:
        return (
            exact_jaccard_pairs(
                shingles, id_col=id_col, shingles_materialized=True
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b")
            .localCheckpoint()
        )

    def _cands() -> DataFrame:
        sigs = minhash_signatures(
            shingles, id_col, n_hashes
        ).localCheckpoint()  # consumed once per banding config below
        stacked = reduce(
            lambda a, c: a.unionByName(c),
            [
                lsh_band_table(
                    sigs, id_col, n_hashes, b, max_bucket_size=None
                ).withColumn("cfg", F.lit(int(b)))
                for b in bands_list
            ],
        )
        wcap = W.partitionBy("cfg", "band_id", "band_key")
        buckets = (
            stacked.withColumn("__n", F.count("*").over(wcap))
            .filter(F.col("__n") <= DEFAULT_MAX_BUCKET_SIZE)
            .drop("__n")
        )
        pa = buckets.select(
            "cfg", "band_id", "band_key", F.col(id_col).alias("id_a")
        )
        pb = buckets.select(
            "cfg", "band_id", "band_key", F.col(id_col).alias("id_b")
        )
        return (
            pa.join(pb, ["cfg", "band_id", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("cfg", "id_a", "id_b")
            .distinct()
            .localCheckpoint()  # consumed twice: count + truth semi-join
        )

    truth, cands = run_wave(_truth, _cands)
    nt = truth.agg(F.count("*").cast("long").alias("n_true_pairs"))
    ncand = cands.groupBy("cfg").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    nhit = (
        cands.join(truth, ["id_a", "id_b"], "left_semi")
        .groupBy("cfg")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    cfgs = df.sparkSession.createDataFrame(
        [(int(b),) for b in bands_list], "cfg int"
    )
    return (
        cfgs.join(F.broadcast(ncand), "cfg", "left")
        .join(F.broadcast(nhit), "cfg", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("cfg").cast("long").alias("bands"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            "n_true_pairs",
            F.round(
                F.when(F.col("n_true_pairs") == 0, F.lit(1.0)).otherwise(
                    F.coalesce("n_hit", F.lit(0))
                    / F.col("n_true_pairs").cast("double")
                ),
                4,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic deduplication
# ---------------------------------------------------------------------------


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings, then pruning near-duplicates WITHIN each cluster,
    keeping the member farthest from its centroid.

    Distinct from the sign-LSH blocked pairs (`cosine_pairs(block_col=)`):
    the paper's pipeline is (1) k-means cluster, (2) all-pairs cosine inside
    each cluster only, (3) for every duplicate group keep the example with
    the LOWEST cosine to the cluster centroid (farthest = most informative,
    per the paper's ablation). Step 3 is sequential-greedy in the paper;
    here it is the order-free relaxation standard for SQL engines: x is
    dropped iff SOME same-cluster neighbor y with cosine(x, y) >= threshold
    precedes it in keep-priority order (centroid_sim ASC, id ASC). The
    relaxation can drop slightly more than the greedy chain (a dropped y
    still shields x) — deterministic, one-pass, and the direction is safe
    for dedup (never keeps two near-duplicates).

    `centroids` is a (cid, cv) frame — `kmeans_fit` output, or any pinned
    coarse quantizer (the IVF centroids double here, so one clustering
    serves both ANN serving and semantic dedup).

    Returns one row per input vector:
    (id, cid, centroid_sim, kept INT, dropped_for nullable id) where
    dropped_for is the highest-priority dominating neighbor.

    Scale (100 TB): the centroid matrix (k x dim — the k-means contract)
    is collected once and compiled into a LITERAL argmax projection, so
    assignment is a zero-shuffle narrow pass: no crossJoin row blowup, no
    (id, vector) groupBy pushing every embedding through an exchange.
    centroid_sim rides along into the pair join, so the corpus frame is
    referenced exactly three times (pair build side, pair probe side,
    output), each a narrow columnar scan. Pairing is an equi-join blocked
    by cid — never a global quadratic; dominance resolution is one
    candidate-keyed rollup. Cluster size is the knob: pick
    k ~ N / target_cluster_size (the paper uses ~50k clusters for
    LAION-scale); a runaway cluster is an assignment-skew problem,
    surfaced by emb_ivf_cell_balance.
    """
    from yaml_pipe_spark.functions.vectors import cosine, dot, l2_norm_sq

    crows = centroids.select("cid", "cv").collect()  # k x dim only
    structs = F.array(
        *[
            F.struct(
                F.round(
                    cosine(F.col(vec_col), F.lit([float(x) for x in r["cv"]])),
                    sim_decimals,
                ).alias("s"),
                F.lit(-int(r["cid"])).alias("nc"),
            )
            for r in crows
        ]
    )
    # argmax centroid, ties to the lowest cid — array_max over (s, -cid)
    # structs, the same contract as the IVF assignment (row_number
    # ORDER BY s DESC, cid in the oracle)
    m = F.array_max(structs)
    asg = df.select(
        F.col(id_col),
        F.col(vec_col),
        (-m.getField("nc")).cast("long").alias("cid"),
        m.getField("s").alias("centroid_sim"),
    )
    # blocked pair join with centroid_sim carried on BOTH sides (inlined
    # cosine_pairs: precomputed squared norms, zero-norm opt-out, spread
    # repartition for small inputs) — no post-hoc sim-lookup joins
    par = df.sparkSession.sparkContext.defaultParallelism
    a = asg.repartition(par).select(
        "cid",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm_sq(F.col(vec_col)).alias("__na"),
        F.col("centroid_sim").alias("cs_a"),
    ).filter(F.col("__na") > 0)
    b = asg.select(
        "cid",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm_sq(F.col(vec_col)).alias("__nb"),
        F.col("centroid_sim").alias("cs_b"),
    ).filter(F.col("__nb") > 0)
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / F.sqrt(F.col("__na") * F.col("__nb")),
                sim_decimals,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "cs_a", "id_b", "cs_b")
    )
    # every near-dup pair has exactly ONE dominated side (keep-priority is
    # a total order), so the dominance edge derives in a single pass over
    # pairs — no both-direction unionAll that would evaluate the pair join
    # twice
    a_wins = (F.col("cs_a") < F.col("cs_b")) | (
        (F.col("cs_a") == F.col("cs_b")) & (F.col("id_a") < F.col("id_b"))
    )
    dom = pairs.select(
        F.when(a_wins, F.col("id_b")).otherwise(F.col("id_a")).alias("x"),
        F.when(a_wins, F.col("id_a")).otherwise(F.col("id_b")).alias("y"),
        F.when(a_wins, F.col("cs_a")).otherwise(F.col("cs_b")).alias("cs_y"),
    )
    best = dom.groupBy("x").agg(
        F.min_by("y", F.struct("cs_y", "y")).alias("dropped_for")
    )
    return asg.join(best, asg[id_col] == best.x, "left").select(
        id_col,
        "cid",
        # IEEE -0.0 + 0.0 = +0.0: a tiny-negative cosine rounds to -0.0,
        # which is hash-visible (suite-wide negative-zero contract)
        (F.col("centroid_sim") + F.lit(0.0)).alias("centroid_sim"),
        F.col("dropped_for").isNull().cast("int").alias("kept"),
        "dropped_for",
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    lam: float = 4.0,
) -> DataFrame:
    """SoftDeDup-style sampling reweighting (Xia et al. 2024,
    arXiv:2407.06654 flavor): instead of DROPPING near-duplicate documents,
    downweight them by the commonness of their duplicated content —
    dup_frac = fraction of a doc's distinct word k-grams occurring in >= 2
    documents, weight = 1 / (1 + lam * dup_frac). Hard dedup
    (exact_duplicates / minhash_near_duplicates) removes whole docs; this
    preserves the unique tail inside boilerplate-heavy ones.

    Returns (id, n_grams, dup_frac, weight); docs with < k tokens have no
    grams and get dup_frac 0 / weight 1 via the caller's left join (they
    carry no duplicated mass). Cost: the one (doc, gram) shuffle
    token_shingles always pays + a vocabulary-scale df aggregate + one
    equi-join back — the text_shared_ngrams cost family, linear in corpus
    size (no pair enumeration anywhere)."""
    sh = token_shingles(df, text_col, id_col, k)
    dft = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(dft, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.avg((F.col("df") >= 2).cast("double")).alias("dup_frac"),
        )
        .withColumn("weight", 1.0 / (1.0 + lam * F.col("dup_frac")))
    )
