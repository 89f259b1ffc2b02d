"""Corpus assembly, mixing, sampling and sharding (corpus_*, sample_*, shard_*)."""

# Split from the original entrypoints.py monolith (round 11);
# blocks keep their original relative order.

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from yaml_pipe_spark.tables import load_table

from yaml_pipe_spark.entrypoints._shared import (
    MINHASH_ORACLE,
    _DK_BIGRAM_DOC,
    _DK_BUCKETS,
    _DK_DF_CUT,
    _DK_GOPHER,
    _DK_NTOK,
    _DK_PUNCT,
    _DK_REP,
    _DK_SHINGLES,
    _DK_SIGS,
    _SIMHASH_PAIR_CTES,
    _dk_byte0,
    _dk_cos,
    _dk_stop_hits,
    _minhash_overlap_store,
    _pair_graph_store,
    register,
)


@register(
    "corpus_ngram_novelty",
    f"""
WITH {_DK_SHINGLES},
dfq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1)
-- ratio of integers, floor-quantized (round-9 hazard sweep): a per-doc
-- u/n can sit exactly on a 4dp round tie (2e4*u = odd*n) where the two
-- engines' round paths disagree on the inexact double; floor of the
-- identical double has no tie to break
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       floor(CAST(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             * 10000 / count(*)) / 10000 AS novelty
FROM shingles s JOIN dfq USING (shingle)
GROUP BY s.doc_id
""",
    "Per-doc n-gram novelty: the fraction of a doc's distinct 3-gram "
    "shingles that appear NOWHERE else in the corpus — the diversity "
    "signal curation uses to prefer novel docs when capping a source or "
    "mixing domains (complement of the boilerplate/df signal the dedup "
    "guards cut on). One df aggregation over the shingle exchange, "
    "joined back and rolled up per doc; no pair joins at any scale.",
)
def q_corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.dedup import token_shingles

    docs = load_table(spark, sf_dir, "documents")
    # the shingle table feeds the df agg AND the join back — materialize
    # once (same staged-pipeline rationale as _pair_overlap)
    sh = token_shingles(docs, "text", "doc_id", k=3).localCheckpoint()
    dfq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(dfq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            # integer-ratio floor-quantize (round-9 hazard sweep; see the
            # oracle comment)
            (
                F.floor(
                    F.sum((F.col("df") == 1).cast("long")).cast("double")
                    * 1e4
                    / F.count("*")
                )
                / 1e4
            ).alias("novelty"),
        )
    )


@register(
    "corpus_dedup_funnel",
    f"""
WITH {_DK_SHINGLES},
{_DK_DF_CUT},
sigs AS (SELECT doc_id, {_DK_SIGS} FROM shingles GROUP BY doc_id),
buckets0 AS ({_DK_BUCKETS}),
buckets AS (
  SELECT doc_id, band_id, band_key FROM (
    SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS bn
    FROM buckets0
  ) WHERE bn <= 10000
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a
  JOIN buckets b ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shf a
  JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
vpairs AS (
  SELECT i.id_a, i.id_b,
         round(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard,
         round(i.inter / sa.n, 4) AS cont_a,
         round(i.inter / sb.n, 4) AS cont_b
  FROM inter i
  JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
),
exact_losers AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn > 1
),
near_losers AS (SELECT DISTINCT id_b FROM vpairs WHERE jaccard >= 0.8),
cont_losers AS (
  SELECT DISTINCT id_b FROM vpairs WHERE greatest(cont_a, cont_b) >= 0.8
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(CASE WHEN e.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_exact,
       CAST(sum(CASE WHEN e.doc_id IS NULL AND n.id_b IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_after_neardup,
       CAST(sum(CASE WHEN e.doc_id IS NULL AND n.id_b IS NULL
                          AND c.id_b IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_after_containment
FROM documents d
LEFT JOIN exact_losers e ON e.doc_id = d.doc_id
LEFT JOIN near_losers n ON n.id_b = d.doc_id
LEFT JOIN cont_losers c ON c.id_b = d.doc_id
GROUP BY d.lang
""",
    "End-to-end DEDUP funnel per language: raw -> after exact dedup "
    "(lowest-id keeper per content hash) -> after near-dup (LSH-verified "
    "jaccard >= 0.8, higher id dropped) -> after containment (either "
    "direction >= 0.8) — the attrition report a corpus owner reads before "
    "signing off a training mix, composing the three dedup families into "
    "one decision layer (the dedup twin of corpus_curation_funnel). "
    "Loser verdicts are global pair decisions applied in stage order; the "
    "shingle index, LSH candidates, and verify core are SHARED DataFrames "
    "across the jaccard and containment branches so their exchanges "
    "reuse.",
)
def q_corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    )
    exact_losers = (
        docs.withColumn("__rn", rn).filter(F.col("__rn") > 1).select("doc_id")
    )
    # jaccard and containment are two projections of the same persisted
    # (inter, na, nb) overlap — the store replaces the per-query verify
    overlap = _minhash_overlap_store(spark, sf_dir).overlap(spark)
    jac = F.round(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
    )
    cont = F.greatest(
        F.round(F.col("inter") / F.col("na"), 4),
        F.round(F.col("inter") / F.col("nb"), 4),
    )
    near_losers = (
        overlap.filter(jac >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    cont_losers = (
        overlap.filter(cont >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    flags = (
        docs.select("doc_id", "lang")
        .join(exact_losers.withColumn("__xe", F.lit(1)), "doc_id", "left")
        .join(near_losers.withColumn("__xn", F.lit(1)), "doc_id", "left")
        .join(cont_losers.withColumn("__xc", F.lit(1)), "doc_id", "left")
    )
    alive_exact = F.col("__xe").isNull()
    alive_near = alive_exact & F.col("__xn").isNull()
    alive_cont = alive_near & F.col("__xc").isNull()
    return flags.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum(alive_exact.cast("long")).alias("n_after_exact"),
        F.sum(alive_near.cast("long")).alias("n_after_neardup"),
        F.sum(alive_cont.cast("long")).alias("n_after_containment"),
    )


_SAMPLE_RATES = {"en": 0.5, "de": 0.25}


@register(
    "sample_stratified",
    f"""
SELECT doc_id, lang FROM documents
WHERE {_dk_byte0("CAST(doc_id AS VARCHAR)")} <
      (CASE WHEN lang = 'en' THEN 0.5
            WHEN lang = 'de' THEN 0.25 ELSE 1.0 END) * 256
""",
    "Deterministic stratified downsampling: keep iff byte0(md5(id)) < "
    "rate(lang) * 256 — reproducible, shuffle-free",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, "lang", _SAMPLE_RATES, "doc_id")
    return out.select("doc_id", "lang")


@register(
    "shard_token_budget",
    """
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard_id
FROM c
""",
    "Token-budget training shards: per-lang exclusive prefix sum / budget "
    "(parallel per-stratum windows, no global sort)",
)
def q_shard_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import shard_by_token_budget

    docs = load_table(spark, sf_dir, "documents")
    out = shard_by_token_budget(
        docs, "text", "doc_id", stratum_col="lang", budget=4096
    )
    return out.select("doc_id", "lang", "n_tokens", "shard_id")


@register(
    "corpus_mix_weights",
    """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_tokens) AS t, count(*) AS k FROM per)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(n_tokens * 1.0 / t, 6) AS token_share,
       round((1.0 / k) / (n_tokens * 1.0 / t), 4) AS uniform_mix_weight
FROM per, tot
""",
    "Domain mixing weights: per-source token share and the up/down-"
    "sampling weight that flattens the mix to uniform — the sampling-"
    "ratio input for corpus assembly (pairs with sample_stratified / "
    "shard_token_budget); token counting is a narrow map, one tiny agg",
)
def q_corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("k")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("n_tokens") / F.col("t"), 6).alias("token_share"),
        F.round(
            (1.0 / F.col("k")) / (F.col("n_tokens") / F.col("t")), 4
        ).alias("uniform_mix_weight"),
    )


@register(
    "sample_weighted",
    """
WITH w AS (
  SELECT doc_id, source, n_chars,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|ws'), 1, 8))
               AS BIGINT) % 1000000) / 1000000.0 AS u
  FROM documents
),
tot AS (SELECT sum(n_chars) AS sum_w, count(*) AS n FROM w)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       round(least(0.3 * n_chars * n / sum_w, 1.0), 6) AS p_include
FROM w, tot
WHERE u < least(0.3 * n_chars * n / sum_w, 1.0)
""",
    "Deterministic size-weighted Bernoulli sample (~30% expected, "
    "probability proportional to n_chars): the importance-downsampling "
    "primitive for corpus assembly. The coin is a hash-derived uniform "
    "(md5 -> integer -> [0,1)) and the threshold pure field arithmetic, "
    "so selection is reproducible across engines AND across runs — a "
    "pure filter + one broadcast scalar, no shuffle of the corpus",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|ws"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    ) / 1000000.0
    tot = docs.agg(
        F.sum("n_chars").alias("sum_w"), F.count("*").alias("n")
    )
    p = F.least(
        0.3 * F.col("n_chars") * F.col("n") / F.col("sum_w"), F.lit(1.0)
    )
    return (
        docs.withColumn("u", u)
        .crossJoin(F.broadcast(tot))
        .filter(F.col("u") < p)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(p, 6).alias("p_include"),
        )
    )


@register(
    "corpus_curation_funnel",
    f"""
WITH base AS (SELECT lang, doc_id, text FROM documents),
rep AS (
  SELECT doc_id, max(c) AS max_tok, sum(c) AS n_tok FROM (
    SELECT doc_id, tok, count(*) AS c FROM (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\p{{L}}+'))
               AS tok
      FROM base) GROUP BY doc_id, tok) GROUP BY doc_id
),
sig AS (
  SELECT b.lang, b.doc_id, b.text,
         length(b.text) AS n_chars,
         len(regexp_extract_all(b.text, '\\p{{L}}')) AS n_letters,
         ({_dk_stop_hits()}) AS stop_hits,
         r.max_tok, r.n_tok
  FROM base b LEFT JOIN rep r USING (doc_id)
),
flags AS (
  SELECT lang, doc_id, text,
         (n_chars BETWEEN 100 AND 20000) AS c_len,
         ((n_chars BETWEEN 100 AND 20000)
          AND n_letters * 100 >= 70 * n_chars) AS c_alpha,
         ((n_chars BETWEEN 100 AND 20000)
          AND n_letters * 100 >= 70 * n_chars
          AND stop_hits >= 1) AS c_stop,
         ((n_chars BETWEEN 100 AND 20000)
          AND n_letters * 100 >= 70 * n_chars
          AND stop_hits >= 1
          AND n_tok IS NOT NULL AND 8 * max_tok <= n_tok) AS c_rep
  FROM sig
),
final AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_final FROM (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY sha256(text)
                              ORDER BY doc_id) AS rn
    FROM flags WHERE c_rep) WHERE rn = 1 GROUP BY lang
),
stages AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(CASE WHEN c_len THEN 1 END) AS BIGINT) AS n_len,
         CAST(count(CASE WHEN c_alpha THEN 1 END) AS BIGINT) AS n_alpha,
         CAST(count(CASE WHEN c_stop THEN 1 END) AS BIGINT) AS n_stop,
         CAST(count(CASE WHEN c_rep THEN 1 END) AS BIGINT) AS n_rep
  FROM flags GROUP BY lang
)
SELECT s.lang AS lang, n_total, n_len, n_alpha, n_stop, n_rep,
       CAST(COALESCE(f.n_final, 0) AS BIGINT) AS n_final
FROM stages s LEFT JOIN final f ON s.lang = f.lang
""",
    "End-to-end curation decision layer: cumulative per-lang attrition "
    "through length band -> alpha ratio -> stopword evidence -> top-unigram "
    "repetition -> exact dedup; integer-arithmetic thresholds so engines "
    "agree exactly. The review table a corpus team reads before a train run.",
)
def q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.curation import curation_funnel

    return curation_funnel(load_table(spark, sf_dir, "documents"))


@register(
    "corpus_source_cap",
    f"""
WITH base AS (
  SELECT doc_id, source, lang,
         length(text) AS n_chars,
         {_DK_NTOK} AS n_tokens,
         {_DK_PUNCT} AS n_punct,
         ({_dk_stop_hits()}) AS stop_hits
  FROM documents
),
safe AS (
  SELECT *, greatest(n_chars, 1) AS sc, greatest(n_tokens, 1) AS st FROM base
),
scored AS (
  SELECT doc_id, source, lang,
         round(least(n_tokens / 100.0, 1.0) * 0.25
               + (1 - least(n_punct / sc * 4, 1.0)) * 0.25
               + least(stop_hits / st * 3, 1.0) * 0.25
               + least(n_tokens / sc * 6, 1.0) * 0.25, 4) AS quality_score
  FROM safe
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY quality_score DESC, doc_id) AS rn
  FROM scored
)
SELECT source, doc_id, lang, quality_score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 15
""",
    "Per-source document cap (the host-cap / domain-cap curation rule: no "
    "single crawl host may dominate the mix): keep the best 15 docs per "
    "source by the SAME composite quality score text_quality registers, "
    "tiebroken on doc_id so the cut is deterministic. One window over a "
    "source-partitioned shuffle; the quality signals are computed in the "
    "same narrow scan pass. At 100 TB rank-within-source is exactly a "
    "row_number over hashpartitioning(source) — no global ordering "
    "anywhere.",
)
def q_corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from yaml_pipe_spark.operators.text_stats import text_statistics

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    scored = text_statistics(docs).select(
        "doc_id", "source", "lang", "quality_score"
    )
    w = W.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 15)
        .select("source", "doc_id", "lang", "quality_score", "rn")
    )


@register(
    "corpus_holdout_split",
    """
WITH h AS (
  SELECT lang, n_chars,
         ((strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
  FROM documents
),
s AS (
  SELECT lang, n_chars,
         CASE WHEN b < 232 THEN 'train'
              WHEN b < 244 THEN 'val'
              ELSE 'test' END AS split
  FROM h
)
SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM s GROUP BY lang, split
""",
    "Deterministic train/val/test holdout: the first md5 byte of doc_id "
    "buckets every document into ~90.6/4.7/4.7 — a pure narrow map, "
    "stable across runs and machines, so re-ingesting the corpus can "
    "never leak a val doc into train (the property random splits lose "
    "the moment data is re-sharded). Per-(lang, split) doc and char "
    "rollup is the audit output.",
)
def q_corpus_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "n_chars", h.alias("b")
    )
    split = (
        F.when(F.col("b") < 232, "train")
        .when(F.col("b") < 244, "val")
        .otherwise("test")
    )
    return (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
        )
    )


@register(
    "corpus_pack_windows",
    f"""
WITH t AS (
  SELECT doc_id, CAST({_DK_NTOK} AS BIGINT) AS n FROM documents
),
nz AS (SELECT doc_id, n FROM t WHERE n > 0),
o AS (
  SELECT doc_id, n,
         COALESCE(sum(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM nz
),
s AS (
  SELECT n, CAST(off AS BIGINT) AS off,
         CAST(off // 512 AS BIGINT) AS w0,
         CAST((off + n - 1) // 512 AS BIGINT) AS w1
  FROM o
),
x AS (
  SELECT n, off, w0, UNNEST(generate_series(w0, w1)) AS win FROM s
)
SELECT CAST(win AS BIGINT) AS window_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN w0 = win THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_starting,
       CAST(sum(least(off + n - 1, (win + 1) * 512 - 1)
                - greatest(off, win * 512) + 1) AS BIGINT) AS n_tokens
FROM x GROUP BY win
""",
    "Training-sequence packing audit (sampling.pack_windows): docs "
    "concatenated in id order, chunked into 512-token context windows; "
    "per-window doc count, starts, and fill — the boundary-crossing / "
    "tail-fill accounting a trainer's loader needs. Scale: the running "
    "token offset is a TWO-PASS cumsum (in-shard window + broadcast "
    "per-shard exclusive prefix), so no corpus-wide single-reducer "
    "Window.orderBy exists in the plan; the oracle recomputes the same "
    "offsets with a plain global cumsum.",
)
def q_corpus_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import pack_windows

    return pack_windows(load_table(spark, sf_dir, "documents"), ctx=512)


def _dk_hex4(key: str) -> str:
    md5e = f"md5(CAST({key} AS VARCHAR))"
    digs = [
        f"(strpos('0123456789abcdef', substr({md5e}, {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    return (
        f"((({digs[0]} * 16 + {digs[1]}) * 16 + {digs[2]}) * 16 + {digs[3]})"
    )


@register(
    "corpus_temperature_mix",
    f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
w AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS wt FROM c),
r AS (
  SELECT lang, n,
         round(wt / (SELECT sum(wt) FROM w), 6) AS q_temp,
         round(least(1.0,
                 (round(wt / (SELECT sum(wt) FROM w), 6)
                  * ((SELECT sum(n) FROM c) * 0.5)) / n), 6) AS rate
  FROM w
),
s AS (
  SELECT d.lang, count(*) AS ns
  FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
  WHERE {_dk_hex4('d.doc_id')} / 65536.0 < r.rate
  GROUP BY 1
)
SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs, r.q_temp, r.rate,
       CAST(coalesce(s.ns, 0) AS BIGINT) AS n_sampled
FROM r LEFT JOIN s ON r.lang IS NOT DISTINCT FROM s.lang
""",
    "Temperature-based language mixture (mT5/XLM-R alpha=0.5, "
    "operators/sampling.py::temperature_mix): per-lang sampling weights "
    "proportional to sqrt(share), scaled to a half-corpus budget, capped "
    "at 1; the keep decision is the deterministic md5-16-bit uniform so "
    "the oracle recomputes the EXACT sampled counts, not an expectation. "
    "sqrt (IEEE-correctly-rounded) instead of arbitrary pow keeps the "
    "weights engine-identical.",
)
def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    return temperature_mix(docs, "lang", "doc_id", budget_frac=0.5)


@register(
    "corpus_gopher_funnel",
    "WITH " + _DK_GOPHER + ",\n" + _DK_REP + """,
j AS (
  SELECT g.doc_id, g.pass_words, g.pass_mean_word_len, g.pass_alpha,
         g.pass_stop, r.dup2_frac
  FROM gflags g JOIN rdoc r USING (doc_id)
),
a AS (
  SELECT count(*) AS s_raw,
    count(*) FILTER (WHERE pass_words = 1) AS s_word_count,
    count(*) FILTER (WHERE pass_words = 1 AND pass_mean_word_len = 1)
      AS s_mean_word_len,
    count(*) FILTER (WHERE pass_words = 1 AND pass_mean_word_len = 1
                       AND pass_alpha = 1) AS s_alpha_ratio,
    count(*) FILTER (WHERE pass_words = 1 AND pass_mean_word_len = 1
                       AND pass_alpha = 1 AND pass_stop = 1) AS s_stopwords,
    count(*) FILTER (WHERE pass_words = 1 AND pass_mean_word_len = 1
                       AND pass_alpha = 1 AND pass_stop = 1
                       AND dup2_frac <= 0.30) AS s_repetition
  FROM j
)
SELECT CAST(0 AS INT) AS stage_idx, 'raw' AS stage,
       CAST(s_raw AS BIGINT) AS n_docs,
       round(s_raw / CAST(s_raw AS DOUBLE), 4) AS retention FROM a
UNION ALL SELECT 1, 'word_count', CAST(s_word_count AS BIGINT),
       round(s_word_count / CAST(s_raw AS DOUBLE), 4) FROM a
UNION ALL SELECT 2, 'mean_word_len', CAST(s_mean_word_len AS BIGINT),
       round(s_mean_word_len / CAST(s_raw AS DOUBLE), 4) FROM a
UNION ALL SELECT 3, 'alpha_ratio', CAST(s_alpha_ratio AS BIGINT),
       round(s_alpha_ratio / CAST(s_raw AS DOUBLE), 4) FROM a
UNION ALL SELECT 4, 'stopwords', CAST(s_stopwords AS BIGINT),
       round(s_stopwords / CAST(s_raw AS DOUBLE), 4) FROM a
UNION ALL SELECT 5, 'repetition', CAST(s_repetition AS BIGINT),
       round(s_repetition / CAST(s_raw AS DOUBLE), 4) FROM a
""",
    "Staged quality-attrition report: documents surviving each Gopher "
    "rule applied cumulatively, ending with the dup2<=0.30 repetition "
    "cut — the quality twin of corpus_dedup_funnel "
    "(operators/quality.py::gopher_funnel). Both signal frames join "
    "once on doc_id and collapse to ONE aggregate row fanned out with "
    "stack() — no per-stage rescans of the corpus.",
)
def q_corpus_gopher_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.quality import gopher_funnel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_funnel(docs)


@register(
    "corpus_ccnet_buckets",
    "WITH " + _DK_BIGRAM_DOC + """,
r AS (SELECT lang, doc_id, round(lp0, 6) AS lp0r FROM doc),
b AS (
  SELECT lang, doc_id, lp0r,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY lp0r DESC, doc_id) AS trc
  FROM r
)
SELECT lang,
       CASE trc WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(lp0r), 4) AS avg_lp,
       round(min(lp0r), 4) AS min_lp
FROM b GROUP BY 1, 2
""",
    "CCNet-style quality bucketing (Wenzek et al. 2020): score every "
    "document with the per-language bigram LM "
    "(text_stats.bigram_doc_logprob, the engine's KenLM stand-in), then "
    "split each language into head/middle/tail perplexity terciles — "
    "the pre-filter CCNet/CCNet-descendant corpora ship with. The "
    "per-doc logprob is rounded to 6dp BEFORE the tercile ordering in "
    "both engines so boundary membership never hinges on "
    "last-ulp summation differences; doc_id breaks exact ties. One "
    "bigram diamond + one per-lang window + one tiny rollup.",
)
def q_corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from yaml_pipe_spark.operators.text_stats import bigram_doc_logprob

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    )
    doc = bigram_doc_logprob(docs).select(
        "lang", "doc_id", F.round("lp0", 6).alias("lp0r")
    )
    w = W.partitionBy("lang").orderBy(
        F.col("lp0r").desc(), F.col("doc_id")
    )
    b = doc.withColumn("trc", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("trc") == 1, F.lit("head"))
        .when(F.col("trc") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return b.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("lp0r"), 4).alias("avg_lp"),
        F.round(F.min("lp0r"), 4).alias("min_lp"),
    )


@register(
    "corpus_split_leakage_audit",
    f"""
WITH RECURSIVE {_SIMHASH_PAIR_CTES},
p AS (SELECT id_a, id_b FROM ham WHERE hamming <= 3),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION
  SELECT id_b AS a, id_a AS b FROM p
),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
),
cc AS (SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n),
labeled AS (
  SELECT d.doc_id, coalesce(cc.cluster_rep, d.doc_id) AS cluster_key
  FROM documents d LEFT JOIN cc USING (doc_id)
),
splits AS (
  SELECT 'by_doc_hash' AS strategy, doc_id,
         {_dk_byte0("CAST(doc_id AS VARCHAR)")} < 0.8 * 256 AS in_train
  FROM labeled
  UNION ALL
  SELECT 'by_cluster_hash' AS strategy, doc_id,
         {_dk_byte0("CAST(cluster_key AS VARCHAR)")} < 0.8 * 256 AS in_train
  FROM labeled
),
counts AS (
  SELECT strategy,
         CAST(count(*) FILTER (WHERE in_train) AS BIGINT) AS n_train,
         CAST(count(*) FILTER (WHERE NOT in_train) AS BIGINT) AS n_valid
  FROM splits GROUP BY 1
),
leaks AS (
  SELECT sa.strategy,
         sum(CASE WHEN sa.in_train <> sb.in_train THEN 1 ELSE 0 END)
           AS leaked
  FROM p
  JOIN splits sa ON sa.doc_id = p.id_a
  JOIN splits sb ON sb.doc_id = p.id_b AND sb.strategy = sa.strategy
  GROUP BY 1
)
SELECT c.strategy, c.n_train, c.n_valid,
       CAST(coalesce(l.leaked, 0) AS BIGINT) AS leaked_pairs
FROM counts c LEFT JOIN leaks l USING (strategy)
""",
    "Leakage-safe train/valid split audit: the same deterministic 80/20 "
    "hash split keyed two ways — by doc_id (naive) and by near-dup "
    "cluster representative (SimHash pairs -> connected components, the "
    "dedup_cluster_resolution machinery) — reporting, for each "
    "strategy, the split sizes and the number of near-duplicate pairs "
    "straddling the boundary. Splitting by cluster key drives "
    "leaked_pairs to zero BY CONSTRUCTION (every member hashes the "
    "same rep), which is why eval decontamination splits by cluster, "
    "never by document (operators/sampling.py::hash_sample_flag is the "
    "shared split primitive). Pair frame and labeled frame are "
    "localCheckpointed once and reused by both strategies.",
)
def q_corpus_split_leakage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import hash_sample_flag

    docs = load_table(spark, sf_dir, "documents")
    store = _pair_graph_store(spark, sf_dir)
    prs = store.pairs(spark).select("id_a", "id_b")
    cc = store.labels(spark)
    labeled = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce("cluster_rep", "doc_id").alias("cluster_key"),
        )
        .localCheckpoint(eager=True)  # consumed by both strategies
    )
    rate = F.lit(0.8)

    def strategy_frame(key_col: str, name: str) -> DataFrame:
        split = labeled.select(
            "doc_id",
            hash_sample_flag(F.col(key_col), rate).alias("in_train"),
        )
        counts = split.agg(
            F.sum(F.col("in_train").cast("long")).alias("n_train"),
            F.sum((~F.col("in_train")).cast("long")).alias("n_valid"),
        )
        leaks = (
            prs.join(
                split.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("in_train").alias("ta"),
                ),
                "id_a",
            )
            .join(
                split.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("in_train").alias("tb"),
                ),
                "id_b",
            )
            .agg(
                F.coalesce(
                    F.sum((F.col("ta") != F.col("tb")).cast("long")),
                    F.lit(0),
                ).alias("leaked_pairs")
            )
        )
        return counts.crossJoin(leaks).select(
            F.lit(name).alias("strategy"), "n_train", "n_valid",
            "leaked_pairs",
        )

    return strategy_frame("doc_id", "by_doc_hash").unionByName(
        strategy_frame("cluster_key", "by_cluster_hash")
    )


@register(
    "corpus_epoch_schedule",
    r"""
WITH t AS (
  SELECT lang, doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
),
c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM t GROUP BY 1
),
w AS (SELECT lang, n_docs, n_tokens,
             sqrt(CAST(n_tokens AS DOUBLE)) AS wt FROM c),
r AS (
  SELECT lang, n_docs, n_tokens,
         round(wt / (SELECT sum(wt) FROM w), 6) AS weight,
         (SELECT sum(n_tokens) FROM c) * 2 AS budget
  FROM w
)
SELECT lang, n_docs, n_tokens, weight,
       CAST(floor(weight * budget) AS BIGINT) AS target_tokens,
       round(floor(weight * budget) / CAST(n_tokens AS DOUBLE), 4)
         AS epochs,
       least(round(floor(weight * budget) / CAST(n_tokens AS DOUBLE), 4),
             4.0) AS epochs_capped
FROM r
""",
    "Epoch/repeat schedule for temperature mixing: per-language token "
    "counts, sqrt-temperature weights (same alpha=0.5 family as "
    "corpus_temperature_mix), a 2x-corpus token budget, and the derived "
    "repeat factor per language with the standard <=4-epoch cap from "
    "data-mixing practice — the accounting a trainer consumes to decide "
    "how many passes of each subset fill the budget. Weight rounded to "
    "6dp before the budget multiply and floor'd to integer tokens so "
    "both engines derive identical schedules.",
)
def q_corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    c = docs.select(
        "lang", F.size(tokens(F.col("text"))).alias("n_tok")
    ).groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    tot = c.agg(
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("swt"),
        (F.sum("n_tokens") * 2).cast("long").alias("budget"),
    )
    r = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.sqrt(F.col("n_tokens").cast("double")) / F.col("swt"), 6
        ).alias("weight"),
        "budget",
    )
    target = F.floor(F.col("weight") * F.col("budget"))
    epochs = F.round(target / F.col("n_tokens").cast("double"), 4)
    return r.select(
        "lang",
        "n_docs",
        "n_tokens",
        "weight",
        target.cast("long").alias("target_tokens"),
        epochs.alias("epochs"),
        F.least(epochs, F.lit(4.0)).alias("epochs_capped"),
    )


# ---------------------------------------------------------------------------
# Round 5e: distributed-sketch heavy hitters, threshold calibration,
# dup-mass attribution, IVF cell-balance audit.
# ---------------------------------------------------------------------------



def _dk_hex4_at(key_hex: str, start: int) -> str:
    digs = [
        f"(strpos('0123456789abcdef', substr({key_hex}, {start + i}, 1)) - 1)"
        for i in range(4)
    ]
    return (
        f"((({digs[0]} * 16 + {digs[1]}) * 16 + {digs[2]}) * 16 + {digs[3]})"
    )


@register(
    "corpus_dup_rate_by_source",
    f"""
WITH p AS ({MINHASH_ORACLE}),
ds AS (SELECT doc_id, source FROM documents),
j AS (
  SELECT least(a.source, b.source) AS src_a,
         greatest(a.source, b.source) AS src_b
  FROM p
  JOIN ds a ON a.doc_id = p.id_a
  JOIN ds b ON b.doc_id = p.id_b
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1, 2
""",
    "Near-dup mass attribution: verified MinHash pairs rolled up by "
    "normalized source pair (least/greatest, so intra-source dup shows "
    "on the diagonal) — the corpus report that says WHERE duplication "
    "comes from, which decides crawl-source pruning before anyone "
    "spends a 100 TB dedup pass. The pair frame is the standard banded "
    "join; source attachment is two broadcast-size dimension joins.",
)
def q_corpus_dup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        _minhash_overlap_store(spark, sf_dir)
        .jaccard_pairs(spark, 0.8)
        .select("id_a", "id_b")
    )
    ds = docs.select("doc_id", "source")
    j = (
        pairs.join(
            ds.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            ds.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
    )
    return j.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


@register(
    "sample_bottom_k_sketch",
    f"""
WITH h AS (
  SELECT DISTINCT md5(text) AS hx FROM documents
),
f AS (
  SELECT hx,
         ({_dk_hex4_at('hx', 1)} * 65536.0 + {_dk_hex4_at('hx', 5)})
           / 4294967296.0 AS frac
  FROM (SELECT md5(hx) AS hx FROM h)
),
rk AS (
  SELECT frac, row_number() OVER (ORDER BY frac, hx) AS rn FROM f
),
kth AS (SELECT frac AS kth FROM rk WHERE rn = 32),
ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM h)
SELECT CAST(32 AS BIGINT) AS k,
       round(kth.kth, 6) AS kth_min_frac,
       CAST(round(31 / kth.kth) AS BIGINT) AS est_distinct,
       ex.exact_distinct,
       round(abs(round(31 / kth.kth) - ex.exact_distinct)
             / CAST(ex.exact_distinct AS DOUBLE), 4) AS rel_error,
       CAST(abs(round(31 / kth.kth) - ex.exact_distinct)
            <= 0.5 * ex.exact_distinct AS INT) AS bound_ok
FROM kth, ex
""",
    "Bottom-k (KMV) distinct-count sketch with a measured error: hash "
    "every distinct document content to a uniform fraction (md5-derived, "
    "the cross-engine hash family), keep the k=32 smallest, estimate "
    "distinct = (k-1)/kth_min — the mergeable sketch behind "
    "theta/KMV engines, validated against the exact count in the same "
    "query (fourth sketch gate after HLL, GK, and CMS). Scale shape: "
    "the k smallest hashes come from a TakeOrdered-style total order "
    "over DISTINCT hashes (cardinality of the sketch input is the "
    "distinct set, already one hash-shuffle); two sketches merge by "
    "keeping the k smallest of the union — the property that lets "
    "every partition sketch independently.",
)
def q_sample_bottom_k_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from yaml_pipe_spark.functions.hashing import hex_pair_to_int

    k = 32
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(F.md5("text").alias("hx")).distinct()
    hh = h.select(F.md5("hx").alias("hx"))
    frac = (
        (
            (
                (hex_pair_to_int(F.col("hx"), 1) * 256
                 + hex_pair_to_int(F.col("hx"), 3)) * 256
                + hex_pair_to_int(F.col("hx"), 5)
            ) * 256
            + hex_pair_to_int(F.col("hx"), 7)
        )
        / F.lit(4294967296.0)
    )
    f = hh.select(F.col("hx"), frac.alias("frac"))
    # k smallest via TakeOrderedAndProject (per-partition heap, k rows to
    # the driver side of the exchange) — NEVER a global row_number window,
    # which would serialize the whole distinct set on one reducer. With
    # fewer than k distinct hashes the sketch is undefined: emit ZERO
    # rows, exactly like the oracle's row_number-=-k filter (a max over
    # the short set would grossly overestimate instead of degrading).
    kth = (
        f.orderBy("frac", "hx")
        .limit(k)
        .agg(F.max("frac").alias("frac"), F.count("*").alias("__n"))
        .filter(F.col("__n") == k)
        .drop("__n")
    )
    ex = h.agg(F.count("*").cast("long").alias("exact_distinct"))
    est = F.round(F.lit(k - 1) / F.col("frac"))
    return kth.crossJoin(F.broadcast(ex)).select(
        F.lit(k).cast("long").alias("k"),
        F.round("frac", 6).alias("kth_min_frac"),
        est.cast("long").alias("est_distinct"),
        "exact_distinct",
        F.round(
            F.abs(est - F.col("exact_distinct"))
            / F.col("exact_distinct").cast("double"),
            4,
        ).alias("rel_error"),
        (
            F.abs(est - F.col("exact_distinct"))
            <= 0.5 * F.col("exact_distinct")
        )
        .cast("int")
        .alias("bound_ok"),
    )


# Deterministic synthetic raw URL per document (the documents table has no
# URL column; same derivation trick as media_from_documents): three raw
# spellings of the same logical URL — www.+mixed-case host, host:443, plain
# host — plus tracking params in two orders and an occasional fragment /
# trailing slash, so canonicalization has real work to do and collisions are
# guaranteed (host = id%5, page = id%7, id-param = id%3 -> every 105 ids
# share a canonical URL).
_URL_EXPR = """
concat(
  'https://',
  CASE WHEN doc_id % 3 = 0 THEN concat('www.SITE', CAST(doc_id % 5 AS STRING), '.example.com')
       WHEN doc_id % 3 = 1 THEN concat('site', CAST(doc_id % 5 AS STRING), '.EXAMPLE.com:443')
       ELSE concat('site', CAST(doc_id % 5 AS STRING), '.example.com') END,
  '/docs/page-', CAST(doc_id % 7 AS STRING),
  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 2 = 0
       THEN concat('?utm_source=feed&id=', CAST(doc_id % 3 AS STRING))
       ELSE concat('?id=', CAST(doc_id % 3 AS STRING), '&utm_campaign=x') END,
  CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END
)
"""


_DK_URL_EXPR = _URL_EXPR.replace("AS STRING", "AS VARCHAR")


@register(
    "corpus_url_canonical_dedup",
    f"""
WITH raw AS (SELECT doc_id, {_DK_URL_EXPR} AS url FROM documents),
parts AS (
  SELECT doc_id, url,
         regexp_replace(lower(regexp_extract(url, '^[a-z]+://([^/?#:]+)', 1)),
                        '^www\\.', '') AS host,
         regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
                        '/$', '') AS path,
         coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
  FROM raw
),
canon AS (
  SELECT doc_id, host,
         concat('https://', host, path,
                CASE WHEN cq = '' THEN '' ELSE concat('?', cq) END) AS curl
  FROM (
    SELECT doc_id, host, path,
           array_to_string(list_sort(list_filter(string_split(q, '&'),
             p -> p <> '' AND NOT regexp_matches(p,
                    '^(utm_[a-z]+|fbclid|gclid|ref)='))), '&') AS cq
    FROM parts
  )
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical,
       CAST(count(*) - count(DISTINCT curl) AS BIGINT) AS n_url_dups,
       round((count(*) - count(DISTINCT curl)) * 1.0 / count(*), 4)
         AS dup_rate,
       min(curl) AS sample_canonical
FROM canon GROUP BY host
""",
    "URL canonicalization + URL-level dedup (functions/urls.py::"
    "canonicalize_url) — the crawl-curation step that runs BEFORE any "
    "content dedup: scheme/host lowercased, www. and port stripped, "
    "fragment dropped, utm_*/fbclid/gclid/ref tracking params removed, "
    "surviving params sorted, trailing slash stripped. Three raw "
    "spellings of each logical URL (www+mixed case, :443, plain; two "
    "param orders; fragments) are derived deterministically per doc_id, "
    "and the per-host rollup reports how much of the fetch list "
    "collapses (n_url_dups / dup_rate) — the fetch-budget decision "
    "input. Pure Catalyst (parse_url + regexp/array ops in codegen, no "
    "UDF): a narrow projection plus one host-keyed shuffle; the oracle "
    "re-implements the parse with regexps and recomputes every "
    "canonical form.",
)
def q_corpus_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.functions.urls import canonical_host, canonicalize_url

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_EXPR).alias("url")
    )
    canon = docs.select(
        canonical_host(F.col("url")).alias("host"),
        canonicalize_url(F.col("url")).alias("curl"),
    )
    return canon.groupBy("host").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("curl").cast("long").alias("n_canonical"),
        (F.count("*") - F.countDistinct("curl")).cast("long").alias(
            "n_url_dups"
        ),
        F.round(
            (F.count("*") - F.countDistinct("curl")) / F.count("*"), 4
        ).alias("dup_rate"),
        F.min("curl").alias("sample_canonical"),
    )


@register(
    "corpus_snapshot_psi",
    """
WITH f0 AS (
  SELECT doc_id, 'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS x
  FROM documents
  UNION ALL
  SELECT doc_id, 'n_tokens',
         CAST(len(string_split(text, ' ')) AS DOUBLE)
  FROM documents
  UNION ALL
  SELECT doc_id, 'alpha_frac',
         round(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
               / nullif(len(text), 0), 4)
  FROM documents
),
f AS (
  SELECT feature, x,
         CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'inc' END AS side
  FROM f0 WHERE x IS NOT NULL
),
e AS (
  SELECT feature,
         list_transform(
           quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           v -> round(v, 4)) AS edges
  FROM f WHERE side = 'base' GROUP BY 1
),
b AS (
  SELECT f.feature, side,
         len(list_filter(e.edges, v -> v <= f.x)) AS bin
  FROM f JOIN e USING (feature)
),
c AS (
  SELECT feature, bin,
         sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN side = 'inc' THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY 1, 2
),
d AS (SELECT feature, unnest(generate_series(0, 9)) AS bin FROM e),
fc AS (
  SELECT d.feature, d.bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM d LEFT JOIN c ON d.feature = c.feature AND d.bin = c.bin
),
t AS (SELECT feature, sum(ca) AS na, sum(cb) AS nb FROM fc GROUP BY 1),
p AS (
  SELECT fc.feature, na, nb,
         (ca + 0.5) / (na + 5.0) AS pa,
         (cb + 0.5) / (nb + 5.0) AS pb
  FROM fc JOIN t USING (feature)
)
SELECT feature,
       CAST(max(na) AS BIGINT) AS n_base,
       CAST(max(nb) AS BIGINT) AS n_incoming,
       round(sum((pb - pa) * ln(pb / pa)), 6) + 0.0 AS psi,
       round(max(abs(pb - pa)), 6) AS max_shift
FROM p GROUP BY 1
""",
    "Population-stability-index drift monitor between corpus snapshots "
    "(the go/no-go check before an increment joins the training mix): "
    "per feature (n_chars, whitespace token count, alpha fraction), the "
    "baseline snapshot's exact deciles (Spark percentile = DuckDB "
    "quantile_cont, edges rounded before binning so bin assignment is "
    "bit-stable across engines) define 10 bins; both snapshots "
    "histogram into them and PSI = sum((pb-pa)*ln(pb/pa)) with add-0.5 "
    "smoothing (industry bands: <0.1 stable, >0.25 drifted). Plan: one "
    "narrow stacked map over documents, decile agg on the base side "
    "comes back as a 3-row broadcast, two bounded aggs — nothing "
    "corpus-sized shuffles; at 100 TB swap percentile for "
    "approx_percentile on the base side (edges are a monitoring "
    "artifact, not a correctness surface).",
)
def q_corpus_snapshot_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    ntok = F.size(F.split("text", " "))
    alpha = F.round(
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        / F.nullif(F.length("text"), F.lit(0)),
        4,
    )
    feats = (
        docs.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("n_chars").alias("feature"),
                        F.col("n_chars").cast("double").alias("x"),
                    ),
                    F.struct(
                        F.lit("n_tokens").alias("feature"),
                        ntok.cast("double").alias("x"),
                    ),
                    F.struct(
                        F.lit("alpha_frac").alias("feature"),
                        alpha.cast("double").alias("x"),
                    ),
                )
            ).alias("f"),
        )
        .select(
            F.when(F.col("doc_id") % 2 == 0, F.lit("base"))
            .otherwise(F.lit("inc"))
            .alias("side"),
            F.col("f.feature").alias("feature"),
            F.col("f.x").alias("x"),
        )
        .filter(F.col("x").isNotNull())
    )
    edges = (
        feats.filter(F.col("side") == "base")
        .groupBy("feature")
        .agg(
            F.percentile(
                "x", F.array(*[F.lit(i / 10) for i in range(1, 10)])
            ).alias("e0")
        )
        .select(
            "feature",
            F.transform("e0", lambda v: F.round(v, 4)).alias("edges"),
        )
    )
    binned = feats.join(F.broadcast(edges), "feature").select(
        "feature",
        "side",
        F.size(
            F.filter("edges", lambda v: v <= F.col("x"))
        ).alias("bin"),
    )
    counts = binned.groupBy("feature", "bin").agg(
        F.sum((F.col("side") == "base").cast("long")).alias("ca"),
        F.sum((F.col("side") == "inc").cast("long")).alias("cb"),
    )
    domain = edges.select(
        "feature", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin")
    )
    full = domain.join(counts, ["feature", "bin"], "left").select(
        "feature",
        "bin",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = full.groupBy("feature").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    p = full.join(F.broadcast(tot), "feature").select(
        "feature",
        "na",
        "nb",
        ((F.col("ca") + 0.5) / (F.col("na") + 5.0)).alias("pa"),
        ((F.col("cb") + 0.5) / (F.col("nb") + 5.0)).alias("pb"),
    )
    return p.groupBy("feature").agg(
        F.max("na").cast("long").alias("n_base"),
        F.max("nb").cast("long").alias("n_incoming"),
        # +0.0 folds a rounded -0.0 to +0.0 (the driver hash is
        # sign-of-zero sensitive; FP can make a term of the always-
        # nonnegative PSI sum infinitesimally negative)
        (
            F.round(
                F.sum(
                    (F.col("pb") - F.col("pa"))
                    * F.log(F.col("pb") / F.col("pa"))
                ),
                6,
            )
            + 0.0
        ).alias("psi"),
        F.round(F.max(F.abs(F.col("pb") - F.col("pa"))), 6).alias(
            "max_shift"
        ),
    )


@register(
    "corpus_snapshot_churn",
    """
WITH b0 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 0
              THEN substr(text, 1, greatest(len(text) - 7, 1)) || ' [rev2]'
              ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 0
),
b AS (
  SELECT doc_id, source, text FROM b0
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), source, text
  FROM documents WHERE doc_id % 19 = 0
),
d AS (
  SELECT coalesce(a.source, b.source) AS source,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN md5(a.text) <> md5(b.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM documents a FULL OUTER JOIN b ON a.doc_id = b.doc_id
),
per AS (
  SELECT source,
         sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS n_added,
         sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS n_removed,
         sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS n_changed,
         sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
           AS n_unchanged
  FROM d GROUP BY 1
)
SELECT source,
       CAST(n_added AS BIGINT) AS n_added,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST(n_changed AS BIGINT) AS n_changed,
       CAST(n_unchanged AS BIGINT) AS n_unchanged,
       round((n_added + n_removed + n_changed) * 1.0
             / (n_added + n_removed + n_changed + n_unchanged), 4)
         AS churn_rate
FROM per GROUP BY 1, 2, 3, 4, 5, 6
""",
    "Snapshot-diff churn accounting — the daily ops report between two "
    "corpus snapshots (operators/state.py::has_changed generalized from "
    "a changed-only anti-join to the full 3-way diff): ONE full-outer "
    "hash join on doc_id classifies every doc added / removed / changed "
    "(content-hash compare) / unchanged, rolled up per source with a "
    "churn rate. Snapshot B is derived deterministically (every 17th "
    "doc deleted, every 13th revised, every 19th re-keyed as new) so "
    "both engines diff identical inputs; re-keyed ids offset past "
    "max(doc_id) so they can never collide with a real doc at any "
    "scale. At 100 TB this is one "
    "co-partitionable join on the primary key — the cheap daily check "
    "that catches a silently truncated crawl before it trains.",
)
def q_corpus_snapshot_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    revised = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(
            F.substring(
                "text", 1, F.greatest(F.length("text") - 7, F.lit(1))
            ),
            F.lit(" [rev2]"),
        ),
    ).otherwise(F.col("text"))
    b0 = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id", "source", revised.alias("text")
    )
    off = docs.agg((F.max("doc_id") + 1).alias("__off"))
    added = (
        docs.filter(F.col("doc_id") % 19 == 0)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + F.col("__off")).alias("doc_id"),
            "source",
            "text",
        )
    )
    b = b0.unionAll(added)
    a = docs.select(
        F.col("doc_id").alias("a_id"),
        F.col("source").alias("a_source"),
        F.md5("text").alias("a_h"),
    )
    bb = b.select(
        F.col("doc_id").alias("b_id"),
        F.col("source").alias("b_source"),
        F.md5("text").alias("b_h"),
    )
    d = a.join(bb, a.a_id == bb.b_id, "full_outer").select(
        F.coalesce("a_source", "b_source").alias("source"),
        F.when(F.col("a_id").isNull(), F.lit("added"))
        .when(F.col("b_id").isNull(), F.lit("removed"))
        .when(F.col("a_h") != F.col("b_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    per = d.groupBy("source").agg(
        F.sum((F.col("status") == "added").cast("long")).alias("n_added"),
        F.sum((F.col("status") == "removed").cast("long")).alias(
            "n_removed"
        ),
        F.sum((F.col("status") == "changed").cast("long")).alias(
            "n_changed"
        ),
        F.sum((F.col("status") == "unchanged").cast("long")).alias(
            "n_unchanged"
        ),
    )
    moved = F.col("n_added") + F.col("n_removed") + F.col("n_changed")
    return per.select(
        "source",
        "n_added",
        "n_removed",
        "n_changed",
        "n_unchanged",
        F.round(moved / (moved + F.col("n_unchanged")), 4).alias(
            "churn_rate"
        ),
    )


DOREMI_ORACLE = r"""
WITH toks AS (
  SELECT source, doc_id, regexp_extract_all(lower(text), '\p{L}+') AS t
  FROM documents
),
bg0 AS (
  SELECT source, doc_id, UNNEST(generate_series(1, len(t) - 1)) AS i, t
  FROM toks WHERE len(t) >= 2
),
bgs AS (SELECT source, doc_id, t[i] AS prev, t[i+1] AS cur FROM bg0),
dt AS (
  SELECT source, doc_id, prev, cur, count(*) AS c_dt
  FROM bgs GROUP BY 1, 2, 3, 4
),
lm_s AS (
  SELECT source, prev, cur, sum(c_dt) AS c_bg FROM dt GROUP BY 1, 2, 3
),
pv_s AS (SELECT source, prev, sum(c_bg) AS c_prev FROM lm_s GROUP BY 1, 2),
lp_s AS (
  SELECT lm_s.source, lm_s.prev, lm_s.cur,
         log10(CAST(c_bg AS DOUBLE)) - log10(CAST(c_prev AS DOUBLE)) AS lps
  FROM lm_s JOIN pv_s ON lm_s.source = pv_s.source AND lm_s.prev = pv_s.prev
),
lm_g AS (SELECT prev, cur, sum(c_bg) AS g_bg FROM lm_s GROUP BY 1, 2),
pv_g AS (SELECT prev, sum(g_bg) AS g_prev FROM lm_g GROUP BY 1),
lp_g AS (
  SELECT lm_g.prev, lm_g.cur,
         log10(CAST(g_bg AS DOUBLE)) - log10(CAST(g_prev AS DOUBLE)) AS lpg
  FROM lm_g JOIN pv_g ON lm_g.prev = pv_g.prev
),
doc AS (
  SELECT dt.source, dt.doc_id,
         round(sum(dt.c_dt * (lp_s.lps - lp_g.lpg)) / sum(dt.c_dt), 6) AS exc
  FROM dt
  JOIN lp_s ON dt.source = lp_s.source AND dt.prev = lp_s.prev
           AND dt.cur = lp_s.cur
  JOIN lp_g ON dt.prev = lp_g.prev AND dt.cur = lp_g.cur
  GROUP BY 1, 2
),
src AS (
  -- mean over EXACT integer micro-units, floor-quantized: exc is
  -- 6dp-rounded, so avg(exc) can land exactly on a 6dp round boundary
  -- where engine fold orders disagree (round-9 hazard sweep)
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         floor(CAST(sum(CAST(round(exc * 1000000) AS BIGINT)) AS DOUBLE)
               / count(*)) / 1000000 + 0.0 AS excess_loss
  FROM doc GROUP BY 1
),
w AS (
  SELECT source, n_docs, excess_loss,
         n_docs / CAST(sum(n_docs) OVER () AS DOUBLE) AS share0,
         (n_docs / CAST(sum(n_docs) OVER () AS DOUBLE))
           * exp(2.0 * excess_loss) AS un
  FROM src
)
-- share is n/total — a small-denominator rational that CAN sit exactly on
-- a 6dp round tie; floor-quantize. weight stays round(): exp() is a
-- continuum map whose outputs hit a 6dp boundary with measure ~0
SELECT source, n_docs, floor(share0 * 1000000) / 1000000 AS baseline_share,
       excess_loss,
       round(un / sum(un) OVER (), 6) AS weight
FROM w
"""


@register(
    "corpus_doremi_weights",
    DOREMI_ORACLE,
    "DoReMi-style domain reweighting (Xu et al. 2023): per-source excess "
    "loss of the corpus-wide bigram LM over a source-specialized one, "
    "mapped through the paper's exponentiated-gradient step "
    "w(s) ~ share(s) * exp(eta * excess(s)) — the deterministic "
    "specialist-vs-generalist analog of the Group-DRO proxy/reference "
    "pair, so mixture weights are measurable without model training. ONE "
    "(doc, bigram) shuffle; the corpus LM aggregates FROM the source LM "
    "(no second scan); the weight normalization is a window over the "
    "|sources|-row frame. Registered after the round-6 50-slot prefix: "
    "locally verified at sf0.01+sf0.1, queued for the round-7 driver "
    "front.",
)
def q_corpus_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import doremi_source_weights

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "text"
    )
    return doremi_source_weights(docs)


@register(
    "corpus_ppl_quality_corr",
    "WITH " + _DK_BIGRAM_DOC + f""",
q AS (
  SELECT doc_id,
         round(least({_DK_NTOK} / 100.0, 1.0) * 0.25
               + (1 - least({_DK_PUNCT} / greatest(length(text), 1) * 4,
                            1.0)) * 0.25
               + least(({_dk_stop_hits()})
                       / greatest({_DK_NTOK}, 1) * 3, 1.0) * 0.25
               + least({_DK_NTOK} / CAST(greatest(length(text), 1)
                                         AS DOUBLE) * 6, 1.0) * 0.25,
               4) AS quality_score
  FROM documents
),
j AS (
  SELECT doc.lang, round(doc.lp0, 6) AS lp, q.quality_score AS qs,
         CAST(round(round(doc.lp0, 6) * 1000000) AS BIGINT) AS lp_u,
         CAST(round(q.quality_score * 10000) AS BIGINT) AS qs_u
  FROM doc JOIN q USING (doc_id)
)
-- the per-group means AND the correlation run over EXACT integer
-- micro-units and floor-quantize to 4dp: avg()/corr() over doubles fold
-- in partition order, and a mean of 6dp-rounded values can land exactly
-- on a 4dp round boundary (observed flaking 0.6679 vs 0.668 between
-- parallelism levels); integer sums are fold-order-exact and
-- floor(identical double) has no tie to break. corr is shift/scale
-- invariant, so Pearson over the units equals Pearson over lp/qs; the
-- five sums stay exact (DuckDB HUGEINT / Spark decimal(38,0)) and both
-- engines evaluate the SAME closed form over identical integers
, s AS (
  -- HUGEINT products before summing (mirrors Spark's decimal(38,0) cast):
  -- a BIGINT*BIGINT square would overflow-error for extreme unit values
  SELECT lang, count(*) AS n,
         sum(lp_u) AS sx, sum(qs_u) AS sy,
         sum(CAST(lp_u AS HUGEINT) * lp_u) AS sxx,
         sum(CAST(qs_u AS HUGEINT) * qs_u) AS syy,
         sum(CAST(lp_u AS HUGEINT) * qs_u) AS sxy
  FROM j GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE) > 0
            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       * 10000) / 10000 + 0.0
       END AS corr_lp_quality,
       floor(CAST(sx AS DOUBLE) / (n * 100)) / 10000 + 0.0 AS avg_lp,
       floor(CAST(sy AS DOUBLE) / n) / 10000 AS avg_quality
FROM s
""",
    "Perplexity-vs-quality link audit: Pearson correlation per language "
    "between the bigram-LM doc logprob (the CCNet signal) and the "
    "composite heuristic quality score (the Gopher-style signal) — the "
    "measured answer to 'do our two quality filters agree, and where?', "
    "same closes-the-loop family as quality_score_calibration and "
    "text_lang_confusion. Reuses the bigram diamond + the narrow quality "
    "projection; the rollup is |langs| rows. lp0 rounds to 6dp before "
    "the correlation so both engines correlate identical inputs, and the "
    "per-group MEANS and the CORRELATION both run over exact integer "
    "micro-unit sums (Pearson closed form, floor-quantized) — an avg() "
    "or corr() over doubles folds in partition order and can land "
    "exactly on a round boundary (round-8 flake fix; corr hardened in "
    "round 9 per ADVICE).",
)
def q_corpus_ppl_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import (
        bigram_doc_logprob,
        text_statistics,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the quality score is a pure per-row expression — compute it in the
    # SAME pass as the bigram diamond and carry it through (doc_cols)
    # instead of joining a second full corpus text scan back on doc_id
    # (guide §2.4; the join also exchanged both doc-level sides). The
    # inner join dropped exactly the <2-token docs the lp side filters,
    # so carrying preserves the row set bit-for-bit.
    scored = text_statistics(docs.select("lang", "doc_id", "text")).select(
        "lang", "doc_id", "text", F.col("quality_score").alias("qs")
    )
    j = bigram_doc_logprob(scored, doc_cols=("qs",)).select(
        "lang",
        F.round("lp0", 6).alias("lp"),
        "qs",
        # exact integer micro-units (lp is 6dp-rounded, qs 4dp-rounded, so
        # the scaled values are within 0.5 of an integer and the 0-dp
        # round is exact and engine-identical)
        F.round(F.round("lp0", 6) * 1e6).cast("long").alias("lp_u"),
        F.round(F.col("qs") * 1e4).cast("long").alias("qs_u"),
    )
    # EXACT integer sums (decimal(38,0) so the squared-unit sums can't
    # overflow long), then the closed-form Pearson over identical integers
    # in both engines: corr() over doubles folds in partition order and can
    # flip a 4dp boundary between parallelism levels — the same flake class
    # as the means (ADVICE r8). corr is shift/scale invariant, so Pearson
    # over the units equals Pearson over lp/qs.
    dec = "decimal(38,0)"
    # cast BEFORE multiplying: a long*long product would silently wrap for
    # |lp| beyond ~3037 (lp_u^2 > 2^63) — impossible for a per-token mean
    # logprob, but the decimal product costs nothing and the oracle's
    # HUGEINT cast mirrors it exactly
    lp_d, qs_d = F.col("lp_u").cast(dec), F.col("qs_u").cast(dec)
    s = j.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("lp_u").alias("sx"),
        F.sum("qs_u").alias("sy"),
        F.sum(lp_d * lp_d).alias("sxx"),
        F.sum(qs_d * qs_d).alias("syy"),
        F.sum(lp_d * qs_d).alias("sxy"),
    )
    n, sx, sy = F.col("n").cast(dec), F.col("sx").cast(dec), F.col("sy").cast(dec)
    vx = (n * F.col("sxx") - sx * sx).cast("double")
    vy = (n * F.col("syy") - sy * sy).cast("double")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    # floor-quantized (no tie to break) and NULL on zero variance in BOTH
    # engines (Spark / would NULL on a zero divisor, DuckDB would NaN);
    # + 0.0 normalizes a possible -0.0 (suite-wide negative-zero contract)
    corr = F.when(
        vx * vy > 0, F.floor(num / F.sqrt(vx * vy) * 1e4) / 1e4 + F.lit(0.0)
    )
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        corr.alias("corr_lp_quality"),
        # means over EXACT integer sums, floor-quantized to 4dp: avg() of
        # rounded doubles can land exactly on a 4dp round boundary where
        # engine fold orders disagree (round-8 flake fix; see the oracle)
        (
            F.floor(F.col("sx").cast("double") / (F.col("n") * 100)) / 1e4
            + F.lit(0.0)
        ).alias("avg_lp"),
        (F.floor(F.col("sy").cast("double") / F.col("n")) / 1e4).alias(
            "avg_quality"
        ),
    )


def _dk_kcenter_step(prev_d: str, prev_c: str, step: int) -> str:
    """One unrolled greedy k-center round: pick argmax(mind) from the
    previous distance frame, then fold its distance in with least()."""
    return f"""
c{step} AS (
  SELECT vec_id AS cid, embedding AS cv FROM {prev_d}
  ORDER BY mind DESC, vec_id LIMIT 1
),
d{step} AS (
  SELECT d.vec_id, d.embedding,
         least(d.mind,
               round(1 - {_dk_cos('d.embedding', 'c.cv')}, 6)) AS mind
  FROM {prev_d} d, c{step} c
),
r{step} AS (SELECT max(mind) AS radius FROM d{step})"""


KCENTER_ORACLE = f"""
WITH c1 AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  ORDER BY vec_id LIMIT 1
),
d1 AS (
  SELECT e.vec_id, e.embedding,
         round(1 - {_dk_cos('e.embedding', 'c.cv')}, 6) AS mind
  FROM embeddings e, c1 c
),
r1 AS (SELECT max(mind) AS radius FROM d1),
{_dk_kcenter_step('d1', 'c1', 2)},
{_dk_kcenter_step('d2', 'c2', 3)},
{_dk_kcenter_step('d3', 'c3', 4)}
SELECT 1 AS step, c1.cid AS center_id, r1.radius FROM c1, r1
UNION ALL SELECT 2, c2.cid, r2.radius FROM c2, r2
UNION ALL SELECT 3, c3.cid, r3.radius FROM c3, r3
UNION ALL SELECT 4, c4.cid, r4.radius FROM c4, r4
"""


@register(
    "sample_kcenter_coreset",
    KCENTER_ORACLE,
    "Greedy k-center coreset selection (Sener & Savarese 2018): k=4 "
    "diversity-first centers over the embedding corpus, each round adding "
    "the point with max-min cosine distance to the chosen set, plus the "
    "per-step coverage radius (the k-center objective curve). The driver "
    "holds only the k x dim centers; every round is one narrow "
    "literal-distance projection + one max/max_by aggregate — k columnar "
    "scans, zero shuffles, nothing corpus-sized collected. Registered "
    "after the round-6 50-slot prefix: locally verified at sf0.01+sf0.1, "
    "queued for the round-7 driver front.",
)
def q_sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import kcenter_coreset

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=4)


UNIMAX_ORACLE = """
WITH c AS (
  SELECT source,
         CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> ''))) AS DOUBLE) AS toks
  FROM documents GROUP BY source
),
-- toks = 0 sources are excluded from the waterfill (cap 0, alloc 0, and
-- the epochs division diverges: Spark / yields NULL on a zero divisor
-- where DuckDB yields NaN) — mirrored in unimax_allocation
cap AS (SELECT source, toks, 2.0 * toks AS cap FROM c WHERE toks > 0),
tot AS (SELECT 1.9 * sum(toks) AS budget, count(*) AS n FROM cap),
ord AS (
  SELECT source, toks, cap,
         row_number() OVER (ORDER BY cap, source) AS i,
         sum(cap) OVER (ORDER BY cap, source
                        ROWS UNBOUNDED PRECEDING) AS csum
  FROM cap
),
k AS (
  SELECT coalesce(max(i), 0) AS kk, coalesce(max(csum), 0.0) AS csum_k
  FROM ord, tot
  WHERE csum + (n - i) * cap <= budget
),
alloc AS (
  SELECT o.source, o.toks,
         CASE WHEN o.i <= k.kk THEN o.cap
              ELSE (t.budget - k.csum_k) / (t.n - k.kk) END AS a
  FROM ord o, k, tot t
)
-- floor-quantized, NOT round(): the uniform share is an arbitrary rational
-- whose double can land exactly on a x.xx5*100 tie after the *100 step,
-- where Spark (BigDecimal HALF_UP on the true value) and DuckDB
-- (x*100 -> round -> /100) disagree; floor has no tie to break, so
-- identical input doubles give identical output in both engines.
SELECT source, CAST(toks AS BIGINT) AS tokens,
       floor(a * 100) / 100 AS alloc_tokens,
       floor(a / toks * 10000) / 10000 AS epochs
FROM alloc
"""


@register(
    "corpus_unimax_mix",
    UNIMAX_ORACLE,
    "UniMax source mixing (Chung et al. 2023): allocate a token budget "
    "(1.9x the corpus) as uniformly as possible across sources subject to "
    "a hard cap of 2 epochs per source — the closed-form waterfill: sort "
    "by capacity ascending, a source is capped iff giving every remaining "
    "source at least its capacity still fits the budget, survivors split "
    "the remainder evenly. Complements temperature mixing (no tail "
    "over-repetition) and DoReMi (no proxy model needed). The frame is "
    "source-cardinality-sized (thousands at 100 TB), so the single-"
    "partition window over it is deliberate and bounded; the only "
    "corpus-scale work is the per-source token-count aggregate.",
)
def q_corpus_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    out = unimax_allocation(
        docs, "source", "text", epoch_cap=2.0, budget_factor=1.9
    )
    # floor-quantize (see the oracle comment): round() tie-breaks half-way
    # cases differently across engines; floor of the identical double never
    # does
    return out.select(
        "source",
        F.col("toks").cast("long").alias("tokens"),
        (F.floor(F.col("alloc") * 100) / 100).alias("alloc_tokens"),
        (F.floor(F.col("alloc") / F.col("toks") * 10000) / 10000).alias(
            "epochs"
        ),
    )
