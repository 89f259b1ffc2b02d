"""Text statistics, quality scoring, tokenization (text_*, quality_*)."""

# Split from the original entrypoints.py monolith (round 11);
# blocks keep their original relative order.

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from yaml_pipe_spark.tables import load_table

from yaml_pipe_spark.entrypoints._shared import (
    _DK_BIGRAM_DOC,
    _DK_GOPHER,
    _DK_NTOK,
    _DK_PUNCT,
    _DK_REP,
    _DK_SHINGLES,
    _dk_byte0,
    _dk_occ,
    _dk_stop_hits,
    fq_unit_mean,
    register,
)


# ---------------------------------------------------------------------------
# Text analysis (north-star extension): language ID, quality, tokens,
# fingerprints — pure expressions with generated SQL twins
# ---------------------------------------------------------------------------


@register(
    "text_vocab_coverage",
    r"""
WITH toks AS (
  SELECT lang, UNNEST(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> '')) AS tok
  FROM documents
),
lt AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
g AS (SELECT tok, sum(c) AS cg FROM lt GROUP BY tok),
topv AS (SELECT tok FROM g ORDER BY cg DESC, tok LIMIT 1000)
SELECT lt.lang,
       CAST(sum(lt.c) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN topv.tok IS NOT NULL THEN lt.c ELSE 0 END)
            AS BIGINT) AS n_covered,
       floor(CAST(sum(CASE WHEN topv.tok IS NOT NULL THEN lt.c ELSE 0 END)
                  AS DOUBLE) * 10000 / sum(lt.c)) / 10000 AS coverage
FROM lt LEFT JOIN topv ON lt.tok = topv.tok
GROUP BY lt.lang
""",
    "Vocabulary coverage per language: the fraction of token occurrences "
    "covered by the corpus's top-1000 tokens — the OOV-rate proxy that "
    "decides tokenizer vocab sizing and flags languages a shared vocab "
    "under-serves. One token shuffle; the top-V selection is "
    "orderBy+limit (TakeOrderedAndProject — distributed top-k, never a "
    "vocab-wide single-partition window) with a (count desc, token) "
    "tiebreak pinned in both engines; the 1000-row vocab broadcasts back.",
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    lt = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    g = lt.groupBy("tok").agg(F.sum("c").alias("cg"))
    topv = (
        g.orderBy(F.col("cg").desc(), F.col("tok"))
        .limit(1000)
        .select("tok", F.lit(1).alias("__top"))
    )
    covered = F.sum(
        F.when(F.col("__top") == 1, F.col("c")).otherwise(F.lit(0))
    )
    return (
        lt.join(F.broadcast(topv), "tok", "left")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            covered.cast("long").alias("n_covered"),
            # integer-ratio floor-quantize (round-9 hazard sweep): a
            # covered/total tie on the 4dp round boundary would let the
            # engines' round paths disagree on the inexact double
            (
                F.floor(covered.cast("double") * 1e4 / F.sum("c")) / 1e4
            ).alias("coverage"),
        )
    )


def _dk_lang_scores() -> str:
    from yaml_pipe_spark.operators.text_stats import LANG_MARKERS

    cols = []
    for lang, markers in LANG_MARKERS.items():
        expr = " + ".join(_dk_occ("p", m) for m in markers)
        cols.append(f"({expr}) AS s_{lang}")
    return ", ".join(cols)


def _lang_case_sql() -> str:
    from yaml_pipe_spark.operators.text_stats import LANG_MARKERS

    langs = list(LANG_MARKERS)
    zero = " AND ".join(f"s_{l} = 0" for l in langs)
    branches = [f"WHEN {zero} THEN 'und'"]
    for i, lang in enumerate(langs[:-1]):
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in langs[i + 1 :])
        branches.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"


@register(
    "text_lang_id",
    f"""
WITH p0 AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
s AS (SELECT doc_id, {_dk_lang_scores()} FROM p0)
SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM s
""",
    "Language ID: stopword-marker argmax with deterministic tiebreak",
)
def q_text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import language_id

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


_DK_DIGIT = "len(regexp_extract_all(text, '[0-9]'))"


_DK_BPE = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


# Deterministic synthetic multi-line PAGE per document (documents.text is
# single-line and never ends in terminal punctuation, so the C4 line rules
# would be degenerate on it — same derivation trick as _URL_EXPR): five
# lines mixing kept sentences, a too-short line, a javascript notice, a
# lorem-ipsum tell, and a curly-brace template, keyed off doc_id moduli so
# every rule path has real population. Identical expression text in both
# engines.
_C4_PAGE_EXPR = """
concat_ws(chr(10),
  concat(text, '.'),
  CASE WHEN doc_id % 3 = 0 THEN 'too short.'
       ELSE concat(substr(text, 1, 120), '!') END,
  CASE WHEN doc_id % 4 = 0 THEN 'Please enable JavaScript to view this page.'
       ELSE 'A second proper sentence with enough words appears here.' END,
  CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet consectetur.'
       ELSE 'Closing remarks follow in this final proper sentence.' END,
  CASE WHEN doc_id % 13 = 0 THEN 'function render() { return 1; }'
       ELSE 'The very last line also ends with terminal punctuation.' END
)
"""


@register(
    "text_c4_filters",
    f"""
WITH pages AS (
  SELECT doc_id, source, {_C4_PAGE_EXPR} AS page FROM documents
),
l0 AS (
  SELECT doc_id, source, page,
         list_filter(list_transform(string_split(page, chr(10)),
                                    x -> trim(x)), l -> l <> '') AS ls
  FROM pages
),
k AS (
  SELECT doc_id, source, ls,
         list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
             AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
             AND NOT contains(lower(l), 'javascript')) AS kept,
         contains(lower(page), 'lorem ipsum') AS lorem,
         contains(page, '{{') AS brace
  FROM l0
),
d AS (
  SELECT source, doc_id, len(kept) AS n_kept,
         CASE WHEN len(ls) > 0
              THEN round(len(kept) * 1.0 / len(ls), 4) ELSE 0.0 END
           AS kept_ratio,
         CASE WHEN len(kept) >= 3 AND NOT lorem AND NOT brace
              THEN 1 ELSE 0 END AS c4_pass,
         sha256(array_to_string(kept, chr(10))) AS cleaned_sha
  FROM k
)
-- mean over EXACT integer 4dp units, floor-quantized (round-9 hazard
-- sweep): kept_ratio is a 4dp-rounded grid value, so avg() can land
-- exactly on a 4dp round boundary where engine fold orders disagree
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c4_pass) AS BIGINT) AS n_pass,
       floor(CAST(sum(CAST(round(kept_ratio * 10000) AS BIGINT)) AS DOUBLE)
             / count(*)) / 10000 AS avg_kept_ratio,
       min(cleaned_sha) AS sample_sha
FROM d GROUP BY source
""",
    "C4 line-level cleaning rules (Raffel et al. 2020 sec. 2.2; "
    "operators/quality.py::c4_line_filters) — the rule bundle the "
    "document-level Gopher rules stack on: keep lines ending in terminal "
    "punctuation with >= 5 words and no 'javascript' mention; fail pages "
    "containing 'lorem ipsum' or a curly brace. Signals are computed on a "
    "deterministic multi-line page derived per doc (the raw documents "
    "are single-line). The per-source rollup carries sha256 of each "
    "cleaned page (min per source) so the oracle must reproduce the "
    "TRANSFORMED text byte-exactly, not just the counts. Pure Catalyst: "
    "one split + two array filters on the scan, one source-keyed "
    "shuffle; at 100 TB the line filter is a narrow map exactly where "
    "it must run.",
)
def q_text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.quality import c4_line_filters

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_C4_PAGE_EXPR).alias("page")
    )
    # source rides through the per-row signal pass (keep_cols) — the
    # join-back was a second corpus scan + doc-keyed exchange (§2.4)
    j = c4_line_filters(docs, text_col="page", keep_cols=("source",))
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("c4_pass").cast("long").alias("n_pass"),
        # mean over EXACT integer 4dp units, floor-quantized (round-9
        # hazard sweep; see the oracle comment)
        fq_unit_mean(F.col("kept_ratio"), 4, 4, F.count("*")).alias(
            "avg_kept_ratio"
        ),
        F.min("cleaned_sha").alias("sample_sha"),
    )


@register(
    "quality_rho_excess",
    r"""
WITH toksr AS (
  SELECT source, doc_id, regexp_extract_all(lower(text), '\p{L}+') AS t
  FROM documents
),
base AS (SELECT source, doc_id, t FROM toksr WHERE len(t) >= 2),
bg0 AS (
  SELECT source, doc_id, UNNEST(generate_series(1, len(t) - 1)) AS i, t
  FROM base
),
bgs AS (SELECT source, doc_id, t[i] AS prev, t[i+1] AS cur FROM bg0),
dt AS (
  SELECT source, doc_id, prev, cur, count(*) AS c
  FROM bgs GROUP BY 1, 2, 3, 4
),
lmd AS (SELECT source, prev, cur, sum(c) AS cb FROM dt GROUP BY 1, 2, 3),
pvd AS (SELECT source, prev, sum(cb) AS cp FROM lmd GROUP BY 1, 2),
docd AS (
  SELECT dt.source, dt.doc_id,
         sum(dt.c * (log10(CAST(lmd.cb AS DOUBLE))
                     - log10(CAST(pvd.cp AS DOUBLE)))) / sum(dt.c) AS lpd
  FROM dt
  JOIN lmd ON dt.source = lmd.source AND dt.prev = lmd.prev
          AND dt.cur = lmd.cur
  JOIN pvd ON dt.source = pvd.source AND dt.prev = pvd.prev
  GROUP BY 1, 2
),
lmg AS (SELECT prev, cur, sum(c) AS cb FROM dt GROUP BY 1, 2),
pvg AS (SELECT prev, sum(cb) AS cp FROM lmg GROUP BY 1),
docg AS (
  SELECT dt.doc_id,
         sum(dt.c * (log10(CAST(lmg.cb AS DOUBLE))
                     - log10(CAST(pvg.cp AS DOUBLE)))) / sum(dt.c) AS lpg
  FROM dt
  JOIN lmg ON dt.prev = lmg.prev AND dt.cur = lmg.cur
  JOIN pvg ON dt.prev = pvg.prev
  GROUP BY 1
),
ex AS (
  SELECT d.source, d.doc_id, round(d.lpd - g.lpg, 4) AS excess
  FROM docd d JOIN docg g USING (doc_id)
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY excess DESC, doc_id) AS rn
  FROM ex
)
-- avg over EXACT integer 4dp units, floor-quantized: a mean of rounded
-- values can land exactly on a 4dp round boundary where engine fold
-- orders disagree (the corpus_ppl_quality_corr round-8 flake class);
-- max() is an order statistic and stays safe under plain round
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       floor(CAST(sum(CAST(round(excess * 10000) AS BIGINT)) AS DOUBLE)
             / count(*)) / 10000 + 0.0 AS avg_excess,
       round(max(excess), 4) AS max_excess,
       min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc
FROM rk GROUP BY source
""",
    "RHO-style learnability scoring (Mindermann et al. 2022's reducible "
    "holdout loss, in the LM-difference form DoGE/DSIR-family pipelines "
    "use): per-doc excess log-probability = mean bigram logprob under "
    "the doc's own DOMAIN (source) LM minus under the GENERAL pooled "
    "LM. High excess = characteristic of its domain and cheap to learn "
    "there; near-zero = generic mass the general model already covers; "
    "strongly negative = off-domain noise. Both LMs aggregate from ONE "
    "localCheckpointed (doc, bigram) statistic "
    "(text_stats.bigram_doc_table + bigram_doc_logprob_from_dt with "
    "group_col=source vs a constant), so the corpus is tokenized and "
    "shuffled ONCE and the cost is vocabulary-sized LM joins. Per-source "
    "rollup: mean/max excess + the argmax doc (min-id ties) — the "
    "per-domain selection anchor.",
)
def q_quality_rho_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from yaml_pipe_spark.operators.text_stats import bigram_doc_logprob_from_dt

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # FUSED arms (round 8): both LMs aggregate from ONE (doc, bigram)
    # statistic — the group column is functional of the doc, so the
    # domain and general groupings are equi-joined dims over a single
    # localCheckpointed dt instead of two full tokenize+shuffle passes.
    # (A PERSISTED dt store was built and measured first: build cost is
    # corpus-footprint-scale — unlike the pair stores — so the family
    # total got WORSE: at sf0.1, min-of-3, doremi 2.29 -> 3.16 s and ppl
    # 2.34 -> 2.77 s, plus a ~10 s build. The fusion keeps the
    # one-corpus-pass win without the store IO.)
    from yaml_pipe_spark.operators.text_stats import bigram_doc_table

    dt = bigram_doc_table(docs).localCheckpoint()
    dom = bigram_doc_logprob_from_dt(
        dt, docs.select("doc_id", "source"), "source"
    ).select("source", "doc_id", F.col("lp0").alias("lpd"))
    gen = bigram_doc_logprob_from_dt(
        dt,
        docs.select("doc_id", F.lit("all").alias("__g")),
        "__g",
    ).select("doc_id", F.col("lp0").alias("lpg"))
    ex = dom.join(gen, "doc_id").select(
        "source",
        "doc_id",
        F.round(F.col("lpd") - F.col("lpg"), 4).alias("excess"),
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("excess"), F.col("doc_id"))
    )
    rk = ex.withColumn(
        "rn", rn
    ).withColumn(  # exact 4dp units (excess is already 4dp-rounded)
        "excess_u", F.round(F.col("excess") * 1e4).cast("long")
    )
    return rk.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        # integer-sum mean, floor-quantized (fold-order-proof; see oracle)
        (
            F.floor(F.sum("excess_u").cast("double") / F.count("*")) / 1e4
            + F.lit(0.0)
        ).alias("avg_excess"),
        F.round(F.max("excess"), 4).alias("max_excess"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc"),
    )


@register(
    "text_quality",
    f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         {_DK_NTOK} AS n_tokens,
         {_DK_BPE} AS n_bpe_tokens,
         {_DK_PUNCT} AS n_punct,
         {_DK_DIGIT} AS n_digit,
         ({_dk_stop_hits()}) AS stop_hits
  FROM documents
),
safe AS (
  SELECT *, greatest(n_chars, 1) AS sc, greatest(n_tokens, 1) AS st FROM base
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       round(n_punct / sc, 4) AS punct_ratio,
       round(n_digit / sc, 4) AS digit_ratio,
       round(stop_hits / st, 4) AS stopword_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.25
             + (1 - least(n_punct / sc * 4, 1.0)) * 0.25
             + least(stop_hits / st * 3, 1.0) * 0.25
             + least(n_tokens / sc * 6, 1.0) * 0.25, 4) AS quality_score
FROM safe
""",
    "Quality scoring: length/punct/stopword ratios + fixed-weight composite",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import text_statistics

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_statistics(docs).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_score",
    )


@register(
    "text_fingerprint",
    f"""
WITH {_DK_SHINGLES}
SELECT doc_id,
       min(md5(shingle)) AS fp_min,
       max(md5(shingle)) AS fp_max,
       count(DISTINCT shingle) AS n_shingles
FROM shingles GROUP BY doc_id
""",
    "Document fingerprinting: min/max shingle hash + shingle cardinality",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import doc_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprint(docs, "text", "doc_id", k=3)


@register(
    "text_tfidf_topterms",
    r"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
           AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
docfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM tf),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.nd + 1) / (docfreq.df + 1.0)), 6) AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
    "Top-3 characteristic terms per doc by smoothed tf-idf",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=3)


@register(
    "text_entropy",
    """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
  SELECT doc_id, w, count(*) AS c FROM words WHERE w <> '' GROUP BY 1, 2
),
tot AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab
  FROM tf GROUP BY 1
)
SELECT tf.doc_id, n_tokens, vocab,
       round(-sum((c * 1.0 / n_tokens) * ln(c * 1.0 / n_tokens)), 4)
         AS entropy
FROM tf JOIN tot USING (doc_id)
GROUP BY tf.doc_id, n_tokens, vocab
""",
    "Unigram Shannon entropy per document — the information-density "
    "quality signal missing from text_quality's ratio features; explode + "
    "tf agg + window totals, all one doc_id shuffle lineage",
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    w = W.partitionBy("doc_id")
    # totals via window over the tf rows: stays in the doc_id shuffle
    # lineage instead of a second shuffle + self-join
    tot = tf.select(
        "doc_id",
        "c",
        F.sum("c").over(w).cast("long").alias("n_tokens"),
        F.count("*").over(w).cast("long").alias("vocab"),
    )
    p = F.col("c") / F.col("n_tokens")
    return tot.groupBy("doc_id", "n_tokens", "vocab").agg(
        F.round(-F.sum(p * F.log(p)), 4).alias("entropy")
    )


# ---------------------------------------------------------------------------
# Training-corpus curation extensions: within-document repetition stats
# (the Gopher/C4 repetition filters), train/test n-gram decontamination,
# and domain mixing weights. These extend the text_* quality family the
# same way dedup_* extends T2: filters a 100 TB pretraining pipeline runs
# between ingestion and sharding.
# ---------------------------------------------------------------------------


@register(
    "text_repetition",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents
),
grams AS (
  SELECT doc_id, w,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
  FROM toks
),
g AS (
  SELECT doc_id, count(*) AS n_tokens,
         count(w2) AS n2,
         count(DISTINCT CASE WHEN w2 IS NOT NULL
                             THEN w || ' ' || w2 END) AS d2,
         count(w3) AS n3,
         count(DISTINCT CASE WHEN w3 IS NOT NULL
                             THEN w || ' ' || w2 || ' ' || w3 END) AS d3
  FROM grams GROUP BY 1
),
tf AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS mx FROM tf GROUP BY 1)
SELECT g.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(1 - d2 * 1.0 / nullif(n2, 0), 4) AS dup_bigram_frac,
       round(1 - d3 * 1.0 / nullif(n3, 0), 4) AS dup_trigram_frac,
       round(mx * 1.0 / n_tokens, 4) AS top_word_frac
FROM g JOIN top USING (doc_id)
""",
    "Gopher-style within-document repetition filter: duplicate bigram/"
    "trigram fractions (via lead() windows — no gram materialization "
    "blowup) + most-frequent-word share; everything in one doc_id shuffle "
    "lineage",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id",
        "w",
        F.lead("w").over(w).alias("w2"),
        F.lead("w", 2).over(w).alias("w3"),
    )
    bigram = F.when(
        F.col("w2").isNotNull(), F.concat_ws(" ", "w", "w2")
    )
    trigram = F.when(
        F.col("w3").isNotNull(), F.concat_ws(" ", "w", "w2", "w3")
    )
    g = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count("w2").alias("n2"),
        F.countDistinct(bigram).alias("d2"),
        F.count("w3").alias("n3"),
        F.countDistinct(trigram).alias("d3"),
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    top = tf.groupBy("doc_id").agg(F.max("c").alias("mx"))
    return g.join(top, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            1 - F.col("d2") / F.nullif(F.col("n2"), F.lit(0)), 4
        ).alias("dup_bigram_frac"),
        F.round(
            1 - F.col("d3") / F.nullif(F.col("n3"), F.lit(0)), 4
        ).alias("dup_trigram_frac"),
        F.round(F.col("mx") / F.col("n_tokens"), 4).alias("top_word_frac"),
    )


@register(
    "text_decontaminate",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents
),
grams AS (
  SELECT doc_id,
         w || ' ' || lead(w)    OVER (PARTITION BY doc_id ORDER BY pos)
           || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
           || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
           || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos)
           AS gram
  FROM toks
),
train_grams AS (
  SELECT DISTINCT gram FROM grams
  WHERE doc_id % 10 < 8 AND gram IS NOT NULL
),
test AS (
  SELECT doc_id, gram FROM grams
  WHERE doc_id % 10 >= 8 AND gram IS NOT NULL
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(tr.gram) AS BIGINT) AS n_contaminated,
       -- ratio of integers, floor-quantized (round-10 hazard sweep): a 4dp
       -- round tie is reachable; floor of the identical double has none
       floor(CAST(count(tr.gram) AS DOUBLE) * 10000 / count(*)) / 10000
         AS contamination_frac
FROM test t LEFT JOIN train_grams tr USING (gram)
GROUP BY t.doc_id
""",
    "Train/test decontamination: 5-gram overlap of held-out docs "
    "(doc_id%10>=8) against the train split — sliding grams via lead() "
    "windows, train side deduplicated BEFORE the equi-join so the probe "
    "is |distinct grams|, the standard benchmark-leakage check",
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, 5)]
    gram = F.concat_ws(" ", *parts)
    # concat_ws skips nulls, so guard: a full 5-gram needs lead(w,4) set
    grams = toks.select(
        "doc_id",
        F.when(F.lead("w", 4).over(w).isNotNull(), gram).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    train = (
        grams.filter(F.col("doc_id") % 10 < 8).select("gram").distinct()
    )
    test = grams.filter(F.col("doc_id") % 10 >= 8)
    joined = test.join(
        train.withColumnRenamed("gram", "tr_gram"),
        test.gram == F.col("tr_gram"),
        "left",
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.count("tr_gram").cast("long").alias("n_contaminated"),
        # integer-ratio floor-quantize (round-10 hazard sweep)
        (
            F.floor(F.count("tr_gram").cast("double") * 1e4 / F.count("*"))
            / 1e4
        ).alias("contamination_frac"),
    )


# ---------------------------------------------------------------------------
# Corpus curation beyond per-doc stats (operators/curation.py): C4-style
# blocklist filters, cross-document shared-span measurement, PII redaction
# ---------------------------------------------------------------------------


@register(
    "text_blocklist_filter",
    """
WITH f AS (
  SELECT lang,
         list_has_any(string_split(text, ' '), ['slow', 'legacy'])
           AS has_blocked,
         len(string_split(text, ' ')) < 12 AS too_short,
         list_max(list_transform(string_split(text, ' '),
                                 x -> length(x))) > 15 AS has_long_word
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN has_blocked THEN 1 END) AS BIGINT) AS n_blocked,
       CAST(count(CASE WHEN too_short THEN 1 END) AS BIGINT) AS n_short,
       CAST(count(CASE WHEN has_long_word THEN 1 END) AS BIGINT) AS n_long,
       CAST(count(CASE WHEN NOT (has_blocked OR too_short OR has_long_word)
                       THEN 1 END) AS BIGINT) AS n_kept
FROM f GROUP BY lang
""",
    "C4-style document filters: vocabulary blocklist + min-words + "
    "max-word-length, independent flags, narrow map + one tiny agg",
)
def q_text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.curation import blocklist_flags

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    f = blocklist_flags(
        docs, "text", blocklist=("slow", "legacy"), min_words=12, max_word_len=15
    )
    cnt = lambda c: F.count(F.when(F.col(c), 1)).cast("long")  # noqa: E731
    return f.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        cnt("has_blocked").alias("n_blocked"),
        cnt("too_short").alias("n_short"),
        cnt("has_long_word").alias("n_long"),
        cnt("keep").alias("n_kept"),
    )


@register(
    "text_shared_ngrams",
    """
WITH toks AS (
  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents
),
g AS (
  SELECT lang, doc_id, w,
         lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2,
         lead(w, 3) OVER win AS w3, lead(w, 4) OVER win AS w4
  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (
  SELECT lang, doc_id,
         md5(w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4) AS gram
  FROM g WHERE w4 IS NOT NULL
),
per AS (
  SELECT lang, gram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
  FROM grams GROUP BY 1, 2
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS BIGINT) AS n_shared,
       -- ratio of integers, floor-quantized (round-10 hazard sweep)
       floor(CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS DOUBLE)
             * 1000000 / count(*)) / 1000000 AS shared_ratio,
       CAST(COALESCE(sum(CASE WHEN n_docs >= 2 THEN n_occ END), 0) AS BIGINT)
         AS cross_doc_occ
FROM per GROUP BY lang
""",
    "Cross-document shared 5-gram spans (RefinedWeb-style boilerplate "
    "measure): lead()-window grams, per-gram document frequency, per-lang "
    "share — one window pass + one gram shuffle",
)
def q_text_shared_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.curation import shared_ngrams

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    )
    per = shared_ngrams(docs, "text", "doc_id", "lang", k=5)
    shared = F.col("n_docs") >= 2
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.count(F.when(shared, 1)).cast("long").alias("n_shared"),
        # integer-ratio floor-quantize (round-10 hazard sweep)
        (
            F.floor(
                F.count(F.when(shared, 1)).cast("double")
                * 1000000
                / F.count("*")
            )
            / 1000000
        ).alias("shared_ratio"),
        F.coalesce(F.sum(F.when(shared, F.col("n_occ"))), F.lit(0))
        .cast("long")
        .alias("cross_doc_occ"),
    )


@register(
    "text_pii_redact",
    """
WITH injected AS (
  -- deterministic PII harness: the synthetic corpus contains no emails/IPs,
  -- so a subset gets them appended (same expression both engines) to
  -- exercise detect+redact with real hits
  SELECT lang, doc_id,
         text
         || (CASE WHEN doc_id % 5 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com now' ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0
                  THEN ' host 10.0.' || CAST(doc_id % 250 AS VARCHAR)
                       || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END)
           AS t
  FROM documents
),
r AS (
  SELECT lang,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
           AS n_emails,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
                        '<EMAIL>', 'g') AS t1
  FROM injected
),
r2 AS (
  SELECT lang, n_emails,
         len(regexp_extract_all(t1,
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ips,
         regexp_replace(t1,
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
             '<IP>', 'g') AS redacted
  FROM r
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_emails) AS BIGINT) AS n_emails,
       CAST(sum(n_ips) AS BIGINT) AS n_ips,
       CAST(count(CASE WHEN n_emails = 0 AND n_ips = 0 THEN 1 END) AS BIGINT)
         AS n_clean,
       CAST(count(DISTINCT md5(redacted)) AS BIGINT) AS n_uniq_redacted
FROM r2 GROUP BY lang
""",
    "PII detect + redact (emails, IPv4) over a deterministic injection "
    "harness; regex subset chosen for Java/RE2 parity; zero shuffle "
    "before the final agg",
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.curation import pii_redact

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    )
    injected = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 250).cast("string"),
                    F.lit("."),
                    (F.col("doc_id") % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    r = pii_redact(injected, "t")
    return r.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_ips").cast("long").alias("n_ips"),
        F.count(
            F.when((F.col("n_emails") == 0) & (F.col("n_ips") == 0), 1)
        )
        .cast("long")
        .alias("n_clean"),
        F.countDistinct(F.md5("redacted")).cast("long").alias("n_uniq_redacted"),
    )


def _bpe_merges_values() -> str:
    from yaml_pipe_spark.operators.text_stats import BPE_MERGES

    return ", ".join(
        f"({i + 1},'{l}','{r}')" for i, (l, r) in enumerate(BPE_MERGES)
    )


BPE_ENCODE_ORACLE = f"""
WITH RECURSIVE
merges(rank, l, r) AS (VALUES {_bpe_merges_values()}),
occ AS (
  SELECT coalesce(lang, 'und') AS lang,
         UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
counts AS (SELECT lang, word, count(*) AS occ FROM occ GROUP BY 1, 2),
init AS (
  SELECT word,
         list_transform(generate_series(1, len(word)), i -> word[i]) AS syms,
         0 AS step
  FROM (SELECT DISTINCT word FROM counts)
),
enc AS (
  SELECT word, syms, step FROM init
  UNION ALL
  SELECT b.word,
         str_split(
           list_reduce(b.syms, (acc, x) ->
             CASE WHEN (acc = mm.l OR ends_with(acc, chr(9) || mm.l))
                       AND x = mm.r
                  THEN acc || mm.r
                  ELSE acc || chr(9) || x END),
           chr(9)) AS syms,
         b.step + 1
  FROM (
    SELECT e.word, e.syms, e.step,
           (SELECT min(m.rank) FROM merges m
            WHERE list_contains(
              list_transform(generate_series(1, len(e.syms) - 1),
                             i -> e.syms[i] || chr(9) || e.syms[i+1]),
              m.l || chr(9) || m.r)) AS best
    FROM enc e
  ) b JOIN merges mm ON mm.rank = b.best
),
final AS (
  SELECT word, syms, len(syms) AS n_bpe FROM (
    SELECT word, syms, row_number() OVER (PARTITION BY word ORDER BY step DESC) AS rn
    FROM enc
  ) WHERE rn = 1
),
joined AS (SELECT c.lang, c.word, c.occ, f.n_bpe, f.syms
           FROM counts c JOIN final f USING (word)),
stats AS (
  SELECT lang,
         CAST(sum(occ) AS BIGINT) AS n_word_occurrences,
         CAST(sum(occ * n_bpe) AS BIGINT) AS total_bpe_tokens
  FROM joined GROUP BY lang
),
types AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_token_types FROM (
    SELECT DISTINCT lang, UNNEST(syms) AS tok FROM joined
  ) GROUP BY lang
)
SELECT s.lang, s.n_word_occurrences, s.total_bpe_tokens,
       round(s.total_bpe_tokens * 1.0 / s.n_word_occurrences, 4)
         AS avg_bpe_per_word,
       t.n_token_types
FROM stats s JOIN types t USING (lang)
"""


@register(
    "text_bpe_encode",
    BPE_ENCODE_ORACLE,
    "The REAL BPE merge loop (text_stats.bpe_encode): iterative lowest-rank "
    "adjacent-pair merging against the pinned training-ordered BPE_MERGES "
    "table, left-to-right non-overlapping per pass — the GPT-2/HF encode "
    "algorithm, not just pre-tokenizer accounting (closes VERDICT r4 ask "
    "#5; complements text_token_bpe). Scale shape: the iteration runs once "
    "per DISTINCT word in one Arrow batch pass (Heaps'-law vocabulary "
    "work), corpus-scale ops stay Catalyst. The oracle re-runs the merge "
    "loop independently as a recursive CTE whose list_reduce fold mirrors "
    "the engine's merge-occurrences semantics exactly, so token counts "
    "AND the distinct token inventory are recomputed from scratch.",
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import bpe_token_stats

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return bpe_token_stats(docs)


# GPT-2-style pre-tokenizer (lookahead-free subset: RE2 has no lookahead, so
# the `\s+(?!\S)` branch is dropped — trailing-space merging differs from
# upstream GPT-2, deterministically in both engines). Leftmost-first
# alternation semantics match between Java regex and RE2's perl mode.
# Whitespace is an EXPLICIT class, not \s: Java's \s includes vertical tab
# (\x0B) while RE2's does not, so a document containing VT would tokenize
# differently per engine. The explicit class (incl. \x0B) is identical in
# both.
_BPE_WS = " \\t\\n\\x0B\\f\\r"


_BPE_PAT = (
    "'(?:s|t|re|ve|m|ll|d)"
    f"| ?\\p{{L}}+| ?\\p{{N}}+| ?[^{_BPE_WS}\\p{{L}}\\p{{N}}]+|[{_BPE_WS}]+"
)


@register(
    "text_token_bpe",
    f"""
WITH t AS (
  SELECT lang,
         len(regexp_extract_all(text,
             '{_BPE_PAT.replace("'", "''")}')) AS n_tokens,
         n_chars
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       -- integer ratios, floor-quantized (round-10 hazard sweep): both the
       -- mean and chars-per-token can sit exactly on a 4dp round tie
       floor(CAST(sum(n_tokens) AS DOUBLE) * 10000 / count(*)) / 10000
         AS avg_tokens,
       floor(CAST(sum(n_chars) AS DOUBLE) * 10000 / sum(n_tokens)) / 10000
         AS chars_per_token
FROM t GROUP BY lang
""",
    "Token accounting with a GPT-2-style pre-tokenizer regex (contractions, "
    "letter runs, digit runs, punctuation runs, whitespace) — pure Catalyst "
    "regexp_extract_all, no UDF; chars-per-token is the budget planners' "
    "compression ratio",
)
def q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "n_chars",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))).alias(
            "n_tokens"
        ),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # integer-ratio floor-quantize (round-10 hazard sweep)
        (
            F.floor(F.sum("n_tokens").cast("double") * 1e4 / F.count("*"))
            / 1e4
        ).alias("avg_tokens"),
        (
            F.floor(
                F.sum("n_chars").cast("double") * 1e4 / F.sum("n_tokens")
            )
            / 1e4
        ).alias("chars_per_token"),
    )


@register(
    "text_unigram_logprob",
    r"""
WITH toks AS (
  SELECT lang, doc_id,
         unnest(regexp_extract_all(lower(text), '\p{L}+')) AS tok
  FROM documents
),
dt AS (
  SELECT lang, doc_id, tok, count(*) AS c_dt
  FROM toks GROUP BY lang, doc_id, tok
),
lm AS (SELECT lang, tok, sum(c_dt) AS c_t FROM dt GROUP BY lang, tok),
tot AS (SELECT lang, sum(c_t) AS n_l FROM lm GROUP BY lang),
doc AS (
  -- log10(c_t/n_l) = log10(c_t) - log10(n_l): score docs without n_l and
  -- shift by log10(n_l) at the per-lang rollup, so the corpus-total join
  -- happens on 3 rows instead of at the doc-token level
  SELECT dt.lang, dt.doc_id,
         sum(dt.c_dt * log10(CAST(lm.c_t AS DOUBLE))) / sum(dt.c_dt) AS lp0
  FROM dt
  JOIN lm ON dt.lang = lm.lang AND dt.tok = lm.tok
  GROUP BY dt.lang, dt.doc_id
),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         avg(lp0) AS avg0, min(lp0) AS min0
  FROM doc GROUP BY lang
)
SELECT agg.lang AS lang, n_docs,
       round(avg0 - log10(CAST(n_l AS DOUBLE)), 4) AS avg_logprob,
       round(min0 - log10(CAST(n_l AS DOUBLE)), 4) AS min_logprob
FROM agg JOIN tot ON agg.lang = tot.lang
""",
    "Unigram-LM quality proxy (CCNet-style): per-lang token LM trained on "
    "the corpus itself, per-doc mean log10 unigram probability, rolled up "
    "per lang. Plan: one (doc,token) count shuffle, LM derived from it by a "
    "second small agg, vocabulary join on (lang,token) — the frequent-token "
    "skew lives on the doc-aggregated side so no key explodes; per-doc "
    "scores never leave the (lang,doc) partitioning.",
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    )
    toks = docs.select(
        "lang",
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(r"\p{L}+"), F.lit(0))
        ).alias("tok"),
    )
    # explicit null-filter so every diamond branch shares a bit-identical
    # subtree: the lm join would add `isnotnull(tok)` to its own branches
    # only, which blocks exchange reuse for the corpus-total branch and
    # forces a second corpus scan
    toks = toks.filter(F.col("tok").isNotNull())
    dt = toks.groupBy("lang", "doc_id", "tok").agg(
        F.count("*").alias("c_dt")
    )
    lm = dt.groupBy("lang", "tok").agg(F.sum("c_dt").alias("c_t"))
    tot = lm.groupBy("lang").agg(F.sum("c_t").alias("n_l"))
    # log10(c_t/n_l) = log10(c_t) - log10(n_l): the corpus-total shift joins
    # at the 3-row lang rollup, keeping the doc-token stream a single
    # dt-exchange diamond (reused, one corpus scan)
    doc = (
        dt.join(lm, ["lang", "tok"])
        .groupBy("lang", "doc_id")
        .agg(
            (
                F.sum(F.col("c_dt") * F.log10(F.col("c_t").cast("double")))
                / F.sum("c_dt")
            ).alias("lp0")
        )
    )
    agg = doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("lp0").alias("avg0"),
        F.min("lp0").alias("min0"),
    )
    shift = F.log10(F.col("n_l").cast("double"))
    return agg.join(tot, "lang").select(
        "lang",
        "n_docs",
        F.round(F.col("avg0") - shift, 4).alias("avg_logprob"),
        F.round(F.col("min0") - shift, 4).alias("min_logprob"),
    )


# first md5 byte -> int in DuckDB (no conv()): the same strpos arithmetic the
# sharding oracle uses, factored for reuse
_DK_MD5_BYTE = (
    "((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)"
)


@register(
    "text_dsir_weight",
    f"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(regexp_extract_all(lower(text), '\\p{{L}}+')) AS tok
  FROM documents
),
tb AS (SELECT doc_id, lang, {_DK_MD5_BYTE} AS b FROM toks),
db AS (SELECT doc_id, lang, b, count(*) AS c_db FROM tb GROUP BY doc_id, lang, b),
rb AS (
  SELECT b, sum(c_db) AS c_r,
         sum(CASE WHEN lang = 'en' THEN c_db ELSE 0 END) AS c_t
  FROM db GROUP BY b
),
tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM rb),
w AS (
  SELECT rb.b,
         ln((rb.c_t + 1) / (tot.n_t + 256.0))
         - ln((rb.c_r + 1) / (tot.n_r + 256.0)) AS w_b
  FROM rb, tot
)
SELECT db.doc_id, db.lang,
       round(sum(db.c_db * w.w_b), 4) + 0.0 AS dsir_logweight
FROM db JOIN w ON db.b = w.b
GROUP BY db.doc_id, db.lang
""",
    "DSIR-style importance weight (Xie et al. 2023, data selection via "
    "importance resampling): hashed unigram bag-of-words LMs for the "
    "target distribution (here: the 'en' slice) and the raw corpus, and "
    "each doc scores log p_target(x) - log p_raw(x) over its 256 hash "
    "buckets (md5 first byte, identical in both engines; add-1 "
    "smoothing). Sampling prop. to exp(weight) recovers the DSIR "
    "selection. Plan: ONE token shuffle into (doc,bucket) counts; both "
    "LMs re-aggregate from those counts (exchange-reuse diamond) and "
    "come back as a 256-row broadcast — the 100 TB cost is the token "
    "count, everything downstream is constant-size.",
)
def q_text_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(r"\p{L}+"), F.lit(0))
        ).alias("tok"),
    )
    toks = toks.filter(F.col("tok").isNotNull())
    b = F.conv(F.substring(F.md5("tok"), 1, 2), 16, 10).cast("long")
    # explicit null-filter on the bucket key: the final db->w join would
    # otherwise add isnotnull(b) to only ITS branch of the db aggregate,
    # splitting the diamond into two token shuffles (see unigram_logprob)
    db = (
        toks.select("doc_id", "lang", b.alias("b"))
        .filter(F.col("b").isNotNull())
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c_db"))
    )
    # both LMs in ONE conditional rollup (a lang='en' pre-filter would be
    # pushed below db's aggregate into a second corpus scan)
    rb = db.groupBy("b").agg(
        F.sum("c_db").alias("c_r"),
        F.sum(F.when(F.col("lang") == "en", F.col("c_db")).otherwise(0)).alias(
            "c_t"
        ),
    )
    tot = rb.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    w = rb.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("c_t") + 1) / (F.col("n_t") + 256.0))
            - F.log((F.col("c_r") + 1) / (F.col("n_r") + 256.0))
        ).alias("w_b"),
    )
    return (
        db.join(F.broadcast(w), "b")
        .groupBy("doc_id", "lang")
        .agg(
            # +0.0 normalizes a rounded -0.0 (a doc whose log-ratio sums to
            # a tiny negative — the hazard class emb_covariance hit in r3,
            # caught here by the strict sf0.1 sweep)
            (F.round(F.sum(F.col("c_db") * F.col("w_b")), 4) + F.lit(0.0)).alias(
                "dsir_logweight"
            )
        )
    )


@register(
    "text_bigram_logprob",
    "WITH " + _DK_BIGRAM_DOC + """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(lp0), 4) AS avg_logprob,
       round(min(lp0), 4) AS min_logprob
FROM doc GROUP BY lang
""",
    "Bigram-LM quality proxy — the conditional-probability extension of "
    "text_unigram_logprob: per-lang P(cur | prev) trained on the corpus "
    "itself (no smoothing needed: every scored bigram is in its own "
    "training set), per-doc mean log10 probability, per-lang rollup. "
    "Plan: one (doc, bigram) count shuffle; the bigram LM and the "
    "prev-marginal both derive from it (vocabulary-sized aggs); the "
    "conditional log-prob attaches at the LM level (vocab⋈vocab on "
    "(lang, prev)) so the hot-prev skew never touches the doc-level "
    "stream, which joins once on the full (lang, prev, cur) key. "
    "Registered after the round-4 50-slot driver prefix: locally "
    "verified at sf0.01+sf0.1, queued for the round-5 driver front.",
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import bigram_doc_logprob

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    )
    doc = bigram_doc_logprob(docs)
    return doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("lp0"), 4).alias("avg_logprob"),
        F.round(F.min("lp0"), 4).alias("min_logprob"),
    )


@register(
    "text_lang_confusion",
    f"""
WITH p0 AS (SELECT doc_id, lang, ' ' || text || ' ' AS p FROM documents),
s AS (SELECT doc_id, lang, {_dk_lang_scores()} FROM p0),
pred AS (SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred FROM s)
SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
       round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY lang)
                             AS DOUBLE), 4) AS share
FROM pred GROUP BY 1, 2
""",
    "Language-ID confusion matrix: the n-gram-marker classifier's "
    "predictions crossed with the ground-truth lang column, with each "
    "row's share of its true language — the accuracy/confusion report "
    "that turns text_lang_id from a black box into a measured component "
    "(same closes-the-loop pattern as ann_recall_measured and "
    "dedup_lsh_recall_audit). One narrow classify pass, one tiny "
    "|langs|^2 rollup, row-normalization window on the matrix frame. "
    "Registered after the round-4 50-slot driver prefix: locally "
    "verified at sf0.01+sf0.1, queued for the round-5 driver front.",
)
def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from yaml_pipe_spark.operators.text_stats import language_id

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    pred = docs.select(
        "lang", language_id(F.col("text")).alias("lang_pred")
    )
    agg = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("long").alias("n")
    )
    w = W.partitionBy("lang")
    return agg.select(
        "lang",
        "lang_pred",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(w).cast("double"), 4
        ).alias("share"),
    )


@register(
    "text_gopher_quality",
    "WITH " + _DK_GOPHER + """
SELECT doc_id, n_words,
       round(mwl, 4) AS mean_word_len,
       round(alpha, 4) AS alpha_word_ratio,
       stop_distinct, pass_words, pass_mean_word_len, pass_alpha, pass_stop,
       pass_words * pass_mean_word_len * pass_alpha * pass_stop
         AS gopher_pass
FROM gflags
""",
    "Gopher document-quality rules (Rae et al. 2021 Appendix A1, the "
    "filter set RedPajama/Dolma reuse): per-doc word-count bounds, "
    "mean-word-length bounds, alphabetic-word ratio, required-stopword "
    "presence, plus per-rule pass flags and the conjunction. Pure "
    "Catalyst narrow projection — no shuffle, codegen'd, "
    "pushdown-friendly (operators/quality.py::gopher_quality_signals; "
    "the flags compare unrounded doubles so the oracle recomputes the "
    "exact same boundary decisions).",
)
def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.quality import gopher_quality_signals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_signals(docs)


@register(
    "text_repetition_ratios",
    "WITH " + _DK_REP + """
SELECT doc_id, top2_frac, top3_frac, dup2_frac FROM rdoc
""",
    "Gopher repetition rules: fraction of characters in the most frequent "
    "word 2-/3-gram and in word 2-grams occurring twice or more "
    "(operators/quality.py::repetition_signals; Gopher's n=5..10 "
    "duplicated-gram rule never fires on these short synthetic docs, so "
    "the duplicate rule runs at n=2 where it bites — each occurrence "
    "contributes length(gram) chars, a documented deviation from the "
    "paper's count-each-char-once rule). One explode + one "
    "(doc, n, gram) count shuffle + one per-doc rollup; ties on the top "
    "gram break toward the lexicographically largest gram in both "
    "engines ((count, gram) struct max vs ORDER BY c DESC, gram DESC).",
)
def q_text_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.quality import repetition_signals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(docs)


@register(
    "text_zipf_fit",
    r"""
WITH wx AS (
  SELECT lang, UNNEST(regexp_extract_all(lower(text), '\p{L}+')) AS word
  FROM documents WHERE lang IS NOT NULL
),
cnt AS (SELECT lang, word, count(*) AS c FROM wx GROUP BY 1, 2),
rk AS (
  SELECT lang, c,
         row_number() OVER (PARTITION BY lang
                            ORDER BY c DESC, word) AS rank
  FROM cnt
),
xy AS (
  SELECT lang, log10(CAST(rank AS DOUBLE)) AS x,
         log10(CAST(c AS DOUBLE)) AS y
  FROM rk
),
m AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy GROUP BY 1
)
SELECT lang, n_types,
       round(CASE WHEN n_types * sxx - sx * sx <> 0
                  THEN (n_types * sxy - sx * sy)
                       / (n_types * sxx - sx * sx) END, 4) AS zipf_slope,
       round(CASE WHEN n_types * sxx - sx * sx <> 0
                  THEN (sy - (n_types * sxy - sx * sy)
                             / (n_types * sxx - sx * sx) * sx)
                       / n_types END, 4) AS zipf_intercept
FROM m
""",
    "Zipf's-law fit per language: OLS slope/intercept of log10(frequency) "
    "vs log10(rank) over the full word-frequency table — the corpus-"
    "health audit that flags synthetic or boilerplate-heavy text (natural "
    "language sits near slope -1; word soup flattens). Ranking ties "
    "break on the word string identically in both engines; one "
    "(lang, word) count shuffle + one per-lang window + a tiny moment "
    "rollup, same OLS-from-moments shape as rel_revenue_trend.",
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    t = F.regexp_extract_all(F.lower("text"), F.lit(r"\p{L}+"), F.lit(0))
    words = (
        docs.filter(F.col("lang").isNotNull())
        .select("lang", F.explode(t).alias("word"))
    )
    cnt = words.groupBy("lang", "word").agg(F.count("*").alias("c"))
    rk = cnt.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("lang").orderBy(F.col("c").desc(), "word")
        ),
    )
    xy = rk.select(
        "lang",
        F.log10(F.col("rank").cast("double")).alias("x"),
        F.log10(F.col("c").cast("double")).alias("y"),
    )
    m = xy.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / denom
    return m.select(
        "lang",
        "n_types",
        F.round(F.when(denom != 0, slope), 4).alias("zipf_slope"),
        F.round(
            F.when(
                denom != 0,
                (F.col("sy") - slope * F.col("sx")) / F.col("n_types"),
            ),
            4,
        ).alias("zipf_intercept"),
    )


@register(
    "text_quality_thresholds",
    "WITH " + _DK_REP + r""",
nw AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                              x -> x <> '')) AS DOUBLE) AS n_words
  FROM documents
),
j AS (
  SELECT nw.lang, nw.n_words, r.dup2_frac
  FROM nw JOIN rdoc r USING (doc_id)
)
SELECT lang,
       round(quantile_cont(CAST(round(dup2_frac * 10000) AS BIGINT), 0.5)
             / 10000.0, 6) AS p50_dup2,
       round(quantile_cont(CAST(round(dup2_frac * 10000) AS BIGINT), 0.9)
             / 10000.0, 6) AS p90_dup2,
       round(quantile_cont(n_words, 0.5), 4) AS p50_words,
       round(quantile_cont(n_words, 0.9), 4) AS p90_words
FROM j GROUP BY lang
""",
    "Quality-threshold calibration: per-language exact interpolated "
    "percentiles of the repetition signal and document length — the "
    "data-driven grounding for the funnel's cut points (pick the p90 of "
    "dup2_frac instead of guessing 0.30). Same percentile "
    "array-of-fractions buffer as rel_percentiles. The dup2 percentile "
    "interpolates over the EXACT integer domain (x10000 of the "
    "4dp-rounded signal) because midpoints of adjacent integers are "
    "exactly representable: with double-domain interpolation an "
    "even-count group can land on a half-point the two engines round "
    "apart (the sf0.1 sweep caught exactly that).",
)
def q_text_quality_thresholds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from yaml_pipe_spark.functions.text import tokens
    from yaml_pipe_spark.operators.quality import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    # lang + word count are per-row — ride them through the repetition
    # rollup's spine (keep_cols) instead of joining a second corpus scan
    # back on doc_id (guide §2.4)
    base = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("double").alias("n_words"),
        "text",
    )
    j = repetition_signals(
        base, keep_cols=("lang", "n_words")
    ).select("doc_id", "lang", "n_words", "dup2_frac")
    out = j.groupBy("lang").agg(
        F.percentile(
            F.round(F.col("dup2_frac") * 10000).cast("long"),
            F.array(F.lit(0.5), F.lit(0.9)),
        ).alias("__d"),
        F.percentile(
            "n_words", F.array(F.lit(0.5), F.lit(0.9))
        ).alias("__w"),
    )
    return out.select(
        "lang",
        F.round(F.element_at("__d", 1) / 10000.0, 6).alias("p50_dup2"),
        F.round(F.element_at("__d", 2) / 10000.0, 6).alias("p90_dup2"),
        F.round(F.element_at("__w", 1), 4).alias("p50_words"),
        F.round(F.element_at("__w", 2), 4).alias("p90_words"),
    )


@register(
    "text_bigram_holdout_ppl",
    r"""
WITH toks AS (
  SELECT lang, doc_id, regexp_extract_all(lower(text), '\p{L}+') AS t,
""" + f"""
         {_dk_byte0("CAST(doc_id AS VARCHAR)")} < 0.8 * 256 AS in_train
""" + r"""
  FROM documents
),
bg0 AS (
  SELECT lang, doc_id, in_train,
         UNNEST(generate_series(1, len(t) - 1)) AS i, t
  FROM toks WHERE len(t) >= 2
),
bgs AS (SELECT lang, doc_id, in_train, t[i] AS prev, t[i+1] AS cur
        FROM bg0),
lm AS (
  SELECT lang, prev, cur, count(*) AS c_bg
  FROM bgs WHERE in_train GROUP BY 1, 2, 3
),
pv AS (SELECT lang, prev, sum(c_bg) AS c_prev FROM lm GROUP BY 1, 2),
vocab AS (
  SELECT lang, CAST(count(DISTINCT cur) AS BIGINT) AS v
  FROM bgs WHERE in_train GROUP BY 1
),
vd AS (
  SELECT b.lang, b.doc_id, b.prev, b.cur, count(*) AS c_dt
  FROM bgs b WHERE NOT in_train GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT vd.lang, vd.doc_id, vd.c_dt,
         log10((coalesce(lm.c_bg, 0) + 1.0)
               / (coalesce(pv.c_prev, 0) + vocab.v)) AS lp
  FROM vd
  JOIN vocab ON vd.lang = vocab.lang
  LEFT JOIN pv ON vd.lang = pv.lang AND vd.prev = pv.prev
  LEFT JOIN lm ON vd.lang = lm.lang AND vd.prev = lm.prev
              AND vd.cur = lm.cur
),
doc AS (
  SELECT lang, doc_id, sum(c_dt * lp) / sum(c_dt) AS lp0
  FROM scored GROUP BY 1, 2
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_valid_docs,
       round(avg(lp0), 4) AS avg_logprob,
       round(min(lp0), 4) AS min_logprob
FROM doc GROUP BY lang
""",
    "Held-out bigram perplexity with Laplace smoothing: the LM trains "
    "ONLY on the deterministic 80% hash split and scores only the 20% "
    "valid docs, P(cur|prev) = (c+1)/(c_prev+V) with V = the train "
    "vocabulary — the methodologically honest version of "
    "text_bigram_logprob/corpus_ccnet_buckets, whose self-trained "
    "scores can never see an unseen bigram. Laplace keeps every "
    "probability strictly positive and deterministic (integer counts "
    "both sides of the division), so unseen bigrams and even unseen "
    "prev-words score exactly 1/(0+V) identically in both engines. "
    "Plan: the train LM and valid doc counts derive from ONE (lang, "
    "doc, bigram) lineage forked by a narrow hash flag; vocab and "
    "marginals are vocabulary-sized; the doc-level stream joins once "
    "on the full key.",
)
def q_text_bigram_holdout_ppl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from yaml_pipe_spark.operators.sampling import hash_sample_flag

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    )
    t = F.regexp_extract_all(F.lower("text"), F.lit(r"\p{L}+"), F.lit(0))
    base = docs.select(
        "lang",
        "doc_id",
        t.alias("t"),
        hash_sample_flag(F.col("doc_id"), F.lit(0.8)).alias("in_train"),
    ).filter(F.size("t") >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.get(F.col("t"), i - 1).alias("prev"),
            F.get(F.col("t"), i).alias("cur"),
        ),
    )
    bgs = (
        base.select(
            "lang", "doc_id", "in_train", F.explode(grams).alias("g")
        )
        .select(
            "lang", "doc_id", "in_train",
            F.col("g.prev"), F.col("g.cur"),
        )
        .filter(
            F.col("lang").isNotNull()
            & F.col("prev").isNotNull()
            & F.col("cur").isNotNull()
        )
    )
    train = bgs.filter(F.col("in_train"))
    lm = train.groupBy("lang", "prev", "cur").agg(
        F.count("*").alias("c_bg")
    )
    pv = lm.groupBy("lang", "prev").agg(F.sum("c_bg").alias("c_prev"))
    vocab = train.groupBy("lang").agg(
        F.countDistinct("cur").cast("long").alias("v")
    )
    vd = (
        bgs.filter(~F.col("in_train"))
        .groupBy("lang", "doc_id", "prev", "cur")
        .agg(F.count("*").alias("c_dt"))
    )
    scored = (
        vd.join(F.broadcast(vocab), "lang")
        .join(pv, ["lang", "prev"], "left")
        .join(lm, ["lang", "prev", "cur"], "left")
        .select(
            "lang",
            "doc_id",
            "c_dt",
            F.log10(
                (F.coalesce(F.col("c_bg"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c_prev"), F.lit(0)) + F.col("v"))
            ).alias("lp"),
        )
    )
    doc = scored.groupBy("lang", "doc_id").agg(
        (F.sum(F.col("c_dt") * F.col("lp")) / F.sum("c_dt")).alias("lp0")
    )
    return doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_valid_docs"),
        F.round(F.avg("lp0"), 4).alias("avg_logprob"),
        F.round(F.min("lp0"), 4).alias("min_logprob"),
    )


# Deterministic encoding-damage injection for the scrub query: each clause
# appends a distinct anomaly class to a doc_id-keyed slice of the corpus
# (clauses stack for ids hitting several moduli). The suffix literals are
# Python constants so the Spark expression and the DuckDB oracle embed
# byte-identical UTF-8.
_ENC_SUFFIXES = (
    (13, " cafÃ© menu"),       # mojibake 'Ã©' (é double-encoded)
    (17, " donâ€™t miss"),  # mojibake 'â€™' (cp1252 ’)
    (19, " data�loss"),             # U+FFFD replacement char
    (23, " price 100"),             # NBSP
    (29, " bellring"),             # C0 control (BEL)
)


def _enc_concat() -> str:
    parts = ["text"]
    for mod, suffix in _ENC_SUFFIXES:
        lit = suffix.replace("'", "''")
        parts.append(
            f"CASE WHEN doc_id % {mod} = 0 THEN '{lit}' ELSE '' END"
        )
    return "concat(" + ", ".join(parts) + ")"


@register(
    "text_encoding_scrub",
    f"""
WITH damaged AS (SELECT doc_id, {_enc_concat()} AS text FROM documents),
m AS (
  SELECT doc_id,
         CAST((length(text) - length(replace(text, 'Ã©', ''))) / 2
            + (length(text) - length(replace(text, 'Ã¤', ''))) / 2
            + (length(text) - length(replace(text, 'â€™', ''))) / 3
           AS BIGINT) AS n_mojibake,
         CAST(length(text) - length(replace(text, '�', ''))
           AS BIGINT) AS n_replacement,
         CAST(length(text) - length(replace(text, ' ', ''))
           AS BIGINT) AS n_nbsp,
         CAST(length(regexp_replace(text,
              '[^\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
           AS BIGINT) AS n_control,
         sha256(regexp_replace(
           replace(replace(replace(replace(replace(text,
             'Ã©', 'é'), 'Ã¤', 'ä'), 'â€™', '’'),
             ' ', ' '), '�', ''),
           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
           AS cleaned_hash
  FROM damaged
)
SELECT doc_id, n_mojibake, n_replacement, n_nbsp, n_control, cleaned_hash
FROM m
WHERE n_mojibake > 0 OR n_replacement > 0 OR n_nbsp > 0 OR n_control > 0
""",
    "Encoding-anomaly detect + repair (operators/quality.py::"
    "encoding_anomaly_scrub) — the ingest-hygiene pass every crawl corpus "
    "needs: mojibake from the classic UTF-8-as-Latin-1 double-encode "
    "repaired via a pinned auditable map (the ftfy core trick), U+FFFD "
    "replacement chars dropped (bytes already lost), NBSP normalized, "
    "C0 controls stripped. Five anomaly classes are injected "
    "deterministically by doc_id modulus, and the per-doc report pins "
    "counts per class AND the sha256 of the repaired text, so the oracle "
    "re-runs the whole repair under the same pinned fix order. Pure "
    "Catalyst fixed-string replaces + one char-class regexp in codegen — "
    "narrow projection, no shuffle, no UDF.",
)
def q_text_encoding_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.quality import encoding_anomaly_scrub

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_enc_concat()).alias("text")
    )
    return encoding_anomaly_scrub(docs)


@register(
    "quality_score_calibration",
    "WITH " + _DK_GOPHER + """,
scored AS (
  SELECT doc_id,
         round(0.5 * round(alpha, 4)
               + 0.3 * least(n_words, 100) / 100.0
               + 0.2 * least(stop_distinct, 5) / 5.0, 6) AS score,
         pass_words * pass_mean_word_len * pass_alpha * pass_stop AS truth
  FROM gflags
),
taus(tau) AS (VALUES (0.3), (0.5), (0.6), (0.7), (0.85)),
agg AS (
  SELECT t.tau,
         CAST(sum(CASE WHEN s.score >= t.tau THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pred,
         CAST(sum(CASE WHEN s.score >= t.tau AND s.truth = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(s.truth) AS BIGINT) AS n_pos,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM scored s CROSS JOIN taus t GROUP BY t.tau
),
pr AS (
  -- integer ratios, floor-quantized to a 1e-4 grid held as exact small
  -- integers (round-10 hazard sweep): tp/n can sit exactly on a 4dp
  -- round tie; floor of the identical double has none
  SELECT tau, n_pred, tp, n_pos, n_docs,
         CASE WHEN n_pred = 0 THEN 0.0
              ELSE floor(CAST(tp AS DOUBLE) * 10000 / n_pred) END AS p4,
         CASE WHEN n_pos = 0 THEN 0.0
              ELSE floor(CAST(tp AS DOUBLE) * 10000 / n_pos) END AS r4
  FROM agg
)
SELECT tau, n_pred, tp, n_pos, n_docs,
       p4 / 10000 AS precision,
       r4 / 10000 AS recall,
       -- f1 over the EXACT quantized grid integers: 2*p4*r4 <= 2e8 is
       -- exact in double, so the floor is engine-identical
       CASE WHEN p4 + r4 = 0 THEN 0.0
            ELSE floor(2 * p4 * r4 / (p4 + r4)) / 10000 END AS f1
FROM pr
""",
    "Quality-score calibration curve — the measurement that gates "
    "replacing the Gopher RULE CONJUNCTION with a cheap continuous "
    "score (the classifier-distillation step every curation pipeline "
    "eventually takes): a pinned composite score (alpha ratio + clamped "
    "word count + clamped stopword count) is thresholded at five "
    "operating points and scored against the full rule conjunction as "
    "pseudo-truth, reporting n_pred/tp/precision/recall/f1 per "
    "threshold. f1 is computed from the ROUNDED precision/recall so "
    "boundary arithmetic is engine-exact. One narrow scoring pass, one "
    "explode over five literals, one tiny tau-keyed rollup.",
)
def q_quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.quality import gopher_quality_signals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = gopher_quality_signals(docs)
    scored = sig.select(
        F.round(
            0.5 * F.col("alpha_word_ratio")
            + 0.3 * F.least(F.col("n_words"), F.lit(100)) / 100.0
            + 0.2 * F.least(F.col("stop_distinct"), F.lit(5)) / 5.0,
            6,
        ).alias("score"),
        F.col("gopher_pass").alias("truth"),
    )
    taus = F.explode(
        F.array(*[F.lit(t) for t in (0.3, 0.5, 0.6, 0.7, 0.85)])
    ).alias("tau")
    per = scored.select("score", "truth", taus)
    agg = per.groupBy("tau").agg(
        F.sum((F.col("score") >= F.col("tau")).cast("int"))
        .cast("long")
        .alias("n_pred"),
        F.sum(
            ((F.col("score") >= F.col("tau")) & (F.col("truth") == 1)).cast(
                "int"
            )
        )
        .cast("long")
        .alias("tp"),
        F.sum("truth").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n_docs"),
    )
    # integer-ratio floor-quantize onto a 1e-4 grid held as exact small
    # integers (round-10 hazard sweep); f1 recombines the grid integers
    # in exact double arithmetic (products <= 2e8), so no tie anywhere
    p4 = F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
        F.floor(F.col("tp").cast("double") * 10000 / F.col("n_pred"))
    )
    r4 = F.when(F.col("n_pos") == 0, F.lit(0.0)).otherwise(
        F.floor(F.col("tp").cast("double") * 10000 / F.col("n_pos"))
    )
    out = agg.select(
        "tau",
        "n_pred",
        "tp",
        "n_pos",
        "n_docs",
        p4.alias("__p4"),
        r4.alias("__r4"),
    )
    f1 = F.when(F.col("__p4") + F.col("__r4") == 0, F.lit(0.0)).otherwise(
        F.floor(
            2
            * F.col("__p4")
            * F.col("__r4")
            / (F.col("__p4") + F.col("__r4"))
        )
        / 10000
    )
    return out.select(
        "tau",
        "n_pred",
        "tp",
        "n_pos",
        "n_docs",
        (F.col("__p4") / 10000).alias("precision"),
        (F.col("__r4") / 10000).alias("recall"),
        f1.alias("f1"),
    )


def _dk_hex_int(expr: str, start: int, n: int) -> str:
    """DuckDB SQL for int(substr(md5-hex, start, n), 16) — no conv() there,
    so spell the base-16 positional sum with strpos arithmetic (the
    _DK_MD5_BYTE trick generalized to n hex chars)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


# 5-gram stream shared by the bloom gate's engine and oracle: same lead()
# construction as text_decontaminate, with source carried for the rollup.
_DK_BLOOM_GRAMS = """toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         w || ' ' || lead(w)    OVER (PARTITION BY doc_id ORDER BY pos)
           || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
           || ' ' || lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)
           || ' ' || lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos)
           AS gram
  FROM toks
),
train AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 10 < 8 AND gram IS NOT NULL
),
js AS (SELECT unnest([{js}]) AS j)"""


_BLOOM_M, _BLOOM_K = 16384, 3


# probe indices generated from _BLOOM_K so the oracle can never probe a
# different count than the Spark side (review finding)
_DK_BLOOM_GRAMS = _DK_BLOOM_GRAMS.format(
    js=", ".join(str(j) for j in range(_BLOOM_K))
)


@register(
    "text_bloom_decontaminate",
    f"""
WITH {_DK_BLOOM_GRAMS},
th AS (SELECT gram, md5(gram) AS h FROM train),
bits AS (
  SELECT DISTINCT
         ({_dk_hex_int('h', 1, 4)}
          + j * (2 * {_dk_hex_int('h', 5, 4)} + 1)) % {_BLOOM_M} AS pos
  FROM th CROSS JOIN js
),
fill AS (SELECT count(*) AS n_set FROM bits),
test AS (
  SELECT doc_id, source, gram FROM grams
  WHERE doc_id % 10 >= 8 AND gram IS NOT NULL
),
tg AS (SELECT DISTINCT gram FROM test),
tgh AS (SELECT gram, md5(gram) AS h FROM tg),
probe AS (
  SELECT gram,
         ({_dk_hex_int('h', 1, 4)}
          + j * (2 * {_dk_hex_int('h', 5, 4)} + 1)) % {_BLOOM_M} AS pos
  FROM tgh CROSS JOIN js
),
flag AS (
  SELECT probe.gram,
         min(CASE WHEN bits.pos IS NULL THEN 0 ELSE 1 END) AS flagged
  FROM probe LEFT JOIN bits USING (pos) GROUP BY 1
),
truth AS (
  SELECT tg.gram, CASE WHEN tr.gram IS NULL THEN 0 ELSE 1 END AS conta
  FROM tg LEFT JOIN train tr USING (gram)
),
v AS (SELECT flag.gram, flagged, conta FROM flag JOIN truth USING (gram)),
per AS (
  SELECT t.source,
         count(*) AS n_grams,
         sum(conta) AS n_contaminated,
         sum(flagged) AS n_flagged,
         sum(CASE WHEN flagged = 1 AND conta = 0 THEN 1 ELSE 0 END)
           AS n_false_pos,
         sum(CASE WHEN conta = 1 AND flagged = 0 THEN 1 ELSE 0 END)
           AS n_missed
  FROM test t JOIN v ON t.gram = v.gram GROUP BY 1
)
SELECT source,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_contaminated AS BIGINT) AS n_contaminated,
       CAST(n_flagged AS BIGINT) AS n_flagged,
       CAST(n_false_pos AS BIGINT) AS n_false_pos,
       CAST(n_missed AS BIGINT) AS n_missed,
       round(n_false_pos * 1.0
             / nullif(n_grams - n_contaminated, 0), 6) AS fp_rate,
       round(pow(n_set * 1.0 / {_BLOOM_M}, {_BLOOM_K}), 6)
         AS theory_fp_rate
FROM per, fill
""",
    "Bloom-filter decontamination gate (operators/bloom.py) measured "
    "against the exact join it replaces: the train split's distinct "
    "5-grams fold into a 16384-bit / 3-probe filter (Kirsch-Mitzenmacher "
    "double hashing off md5, the repo's cross-engine hash), held-out "
    "grams probe the BROADCAST bit set, and the per-source rollup "
    "reports flagged vs exactly-contaminated counts, the measured FP "
    "rate, the observed-fill theory rate f^k, and n_missed — pinned 0, "
    "a Bloom filter has no false negatives. The 100 TB point: the exact "
    "gate's corpus-sized train join is replaced by m/8 bytes of "
    "broadcast state and local probes (GPT-3 appendix-C style); the "
    "probe side touches only DISTINCT held-out grams, then verdicts "
    "join back to occurrences on the gram key. Plan: one distinct "
    "shuffle per side, one <=m-row broadcast, zero UDFs.",
)
def q_text_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from yaml_pipe_spark.operators.bloom import bloom_bits, bloom_flag

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, 5)]
    gram = F.concat_ws(" ", *parts)
    grams = toks.select(
        "doc_id",
        "source",
        F.when(F.lead("w", 4).over(w).isNotNull(), gram).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    train = (
        grams.filter(F.col("doc_id") % 10 < 8).select("gram").distinct()
    )
    bits = bloom_bits(train, m=_BLOOM_M, k=_BLOOM_K)
    test = grams.filter(F.col("doc_id") % 10 >= 8)
    tg = test.select("gram").distinct()
    flag = bloom_flag(tg, bits, m=_BLOOM_M, k=_BLOOM_K)
    truth = tg.join(
        train.withColumnRenamed("gram", "tr_gram"),
        tg.gram == F.col("tr_gram"),
        "left",
    ).select(
        "gram",
        F.when(F.col("tr_gram").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .alias("conta"),
    )
    v = flag.join(truth, "gram")
    per = (
        test.join(v, "gram")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("conta").cast("long").alias("n_contaminated"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.sum(
                ((F.col("flagged") == 1) & (F.col("conta") == 0)).cast(
                    "long"
                )
            ).alias("n_false_pos"),
            F.sum(
                ((F.col("conta") == 1) & (F.col("flagged") == 0)).cast(
                    "long"
                )
            ).alias("n_missed"),
        )
    )
    fill = bits.agg(F.count("*").alias("n_set"))
    return per.crossJoin(F.broadcast(fill)).select(
        "source",
        "n_grams",
        "n_contaminated",
        "n_flagged",
        "n_false_pos",
        "n_missed",
        F.round(
            F.col("n_false_pos")
            / F.nullif(F.col("n_grams") - F.col("n_contaminated"), F.lit(0)),
            6,
        ).alias("fp_rate"),
        F.round(
            F.pow(F.col("n_set") / F.lit(float(_BLOOM_M)), _BLOOM_K), 6
        ).alias("theory_fp_rate"),
    )


NB_DISTILL_ORACLE = f"""
WITH {_DK_GOPHER},
lbl AS (
  SELECT doc_id,
         pass_words * pass_mean_word_len * pass_alpha * pass_stop AS y
  FROM gflags
),
toks AS (
  SELECT d.doc_id, l.y,
         CASE WHEN {_dk_byte0("CAST(d.doc_id AS VARCHAR)")} < 0.8 * 256
              THEN 1 ELSE 0 END AS train,
         UNNEST(list_filter(regexp_split_to_array(d.text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents d JOIN lbl l USING (doc_id)
),
tf AS (
  SELECT doc_id, y, train, tok, count(*) AS tf FROM toks GROUP BY 1, 2, 3, 4
),
ct AS (SELECT tok, y, sum(tf) AS c FROM tf WHERE train = 1 GROUP BY 1, 2),
vocab AS (SELECT DISTINCT tok FROM ct),
grid AS (
  SELECT v.tok, cls.y, coalesce(ct.c, 0) AS c
  FROM vocab v CROSS JOIN (SELECT 0 AS y UNION ALL SELECT 1) cls
  LEFT JOIN ct ON ct.tok = v.tok AND ct.y = cls.y
),
consts AS (
  SELECT coalesce(sum(CASE WHEN y = 1 THEN c END), 0) AS tot1,
         coalesce(sum(CASE WHEN y = 0 THEN c END), 0) AS tot0,
         (SELECT count(*) FROM vocab) AS v,
         (SELECT count(DISTINCT doc_id) FROM tf
          WHERE train = 1 AND y = 1) AS nd1,
         (SELECT count(DISTINCT doc_id) FROM tf
          WHERE train = 1 AND y = 0) AS nd0
  FROM grid
),
wts AS (
  SELECT g.tok,
         round(log10((sum(CASE WHEN g.y = 1 THEN g.c END) + 1)
                     / CAST(c.tot1 + c.v AS DOUBLE))
               - log10((sum(CASE WHEN g.y = 0 THEN g.c END) + 1)
                       / CAST(c.tot0 + c.v AS DOUBLE)), 6) AS w
  FROM grid g, consts c GROUP BY g.tok, c.tot1, c.tot0, c.v
),
pw AS (
  SELECT round(log10(CAST(nd1 + 1 AS DOUBLE))
               - log10(CAST(nd0 + 1 AS DOUBLE)), 6) AS pw
  FROM consts
),
sc AS (
  SELECT t.doc_id, t.y, sum(t.tf * w.w) AS s
  FROM tf t JOIN wts w USING (tok) WHERE t.train = 0 GROUP BY 1, 2
),
td AS (SELECT DISTINCT doc_id, y FROM tf WHERE train = 0),
mg AS (
  SELECT td.doc_id, td.y,
         round(coalesce(sc.s, 0.0) + pw.pw, 6) AS margin
  FROM td LEFT JOIN sc USING (doc_id, y), pw
),
pr AS (
  SELECT CAST(y AS BIGINT) AS gopher_label,
         CAST(margin >= 0 AS BIGINT) AS pred
  FROM mg
)
SELECT gopher_label, pred, CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY gopher_label)
                             AS DOUBLE), 4) AS share
FROM pr GROUP BY 1, 2
"""


@register(
    "quality_nb_distill",
    NB_DISTILL_ORACLE,
    "Quality-classifier distillation (the CCNet/fastText stage, Wenzek "
    "et al. 2020 / Joulin et al. 2017): multinomial Naive Bayes over "
    "whitespace tokens, teacher = the Gopher rule conjunction, trained "
    "closed-form on the hash-80% split and reported as the held-out "
    "confusion matrix. NB over token counts IS a linear classifier "
    "(per-token weight = Laplace-smoothed log-likelihood ratio), so both "
    "training and inference are DataFrame aggregates: one (doc, token) "
    "count shuffle, vocabulary-sized model aggregates, broadcast V x 1 "
    "weight join for scoring. Weights and margins round to 6dp before "
    "every sum/sign so the verdict never hinges on float summation order. "
    "Registered after the round-6 50-slot prefix: locally verified at "
    "sf0.01+sf0.1, queued for the round-7 driver front.",
)
def q_quality_nb_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.classifier import nb_quality_distill
    from yaml_pipe_spark.operators.quality import gopher_quality_signals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # label + text from ONE corpus pass (keep_cols) — the join of the
    # signals back onto the corpus was a second scan + exchange (§2.4)
    labeled = gopher_quality_signals(docs, keep_cols=("text",)).select(
        "doc_id", "text", "gopher_pass"
    )
    return nb_quality_distill(labeled)


WINNOW_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, len(t) - 3),
           i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         ) AS hs
  FROM toks WHERE len(t) >= 4
),
w AS (
  SELECT doc_id, len(hs) AS n_grams,
         list_transform(
           generate_series(1, len(hs) - 3),
           i -> list_min(hs[i:i+3])
         ) AS fps
  FROM g WHERE len(hs) >= 4
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(fps) AS BIGINT) AS n_windows,
       CAST(len(list_distinct(fps)) AS BIGINT) AS n_fps,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp
FROM w
"""


@register(
    "text_winnow_fingerprint",
    WINNOW_ORACLE,
    "Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD "
    "'03 — the MOSS algorithm): hash every word 4-gram, slide a window of "
    "4 consecutive hashes, keep each window's minimum — guarantees any "
    "shared run of >= 7 words between two docs shares a fingerprint, at "
    "~1/4 the storage of full k-gram sets. Hashes are md5 hex strings "
    "(lexicographic min is engine-identical). Pure per-doc expressions "
    "(transform/slice/array_min inside codegen): zero shuffles, zero "
    "Python; at 100 TB this is a narrow map the scan absorbs.",
)
def q_text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    out = winnow_fingerprints(docs, "text", "doc_id", k=4, w=4)
    return out.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_windows"),
        F.size(F.array_distinct("fps")).cast("long").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


BPE_TRAIN_ORACLE = """
WITH occ AS (
  SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
vocab AS (SELECT word, count(*) AS cnt FROM occ GROUP BY 1),
v0 AS (
  SELECT word, cnt,
         list_transform(generate_series(1, len(word)), i -> word[i]) AS syms
  FROM vocab
),
p1 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v0 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b1 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p1 ORDER BY c DESC, l, r LIMIT 1),
v1 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v0 v, b1 b
),
s1 AS (
  SELECT CAST(1 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v1)
           AS tokens_after
  FROM b1 b
),
p2 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v1 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b2 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p2 ORDER BY c DESC, l, r LIMIT 1),
v2 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v1 v, b2 b
),
s2 AS (
  SELECT CAST(2 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v2)
           AS tokens_after
  FROM b2 b
),
p3 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v2 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b3 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p3 ORDER BY c DESC, l, r LIMIT 1),
v3 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v2 v, b3 b
),
s3 AS (
  SELECT CAST(3 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v3)
           AS tokens_after
  FROM b3 b
),
p4 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v3 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b4 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p4 ORDER BY c DESC, l, r LIMIT 1),
v4 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v3 v, b4 b
),
s4 AS (
  SELECT CAST(4 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v4)
           AS tokens_after
  FROM b4 b
),
p5 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v4 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b5 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p5 ORDER BY c DESC, l, r LIMIT 1),
v5 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v4 v, b5 b
),
s5 AS (
  SELECT CAST(5 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v5)
           AS tokens_after
  FROM b5 b
),
p6 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v5 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b6 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p6 ORDER BY c DESC, l, r LIMIT 1),
v6 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v5 v, b6 b
),
s6 AS (
  SELECT CAST(6 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v6)
           AS tokens_after
  FROM b6 b
),
p7 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v6 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b7 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p7 ORDER BY c DESC, l, r LIMIT 1),
v7 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v6 v, b7 b
),
s7 AS (
  SELECT CAST(7 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v7)
           AS tokens_after
  FROM b7 b
),
p8 AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT cnt, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
        FROM v7 WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b8 AS (SELECT l, r, CAST(c AS BIGINT) AS c
         FROM p8 ORDER BY c DESC, l, r LIMIT 1),
v8 AS (
  SELECT v.word, v.cnt,
         str_split(list_reduce(v.syms, (acc, x) ->
           CASE WHEN (acc = b.l OR ends_with(acc, chr(9) || b.l))
                     AND x = b.r
                THEN acc || b.r ELSE acc || chr(9) || x END),
           chr(9)) AS syms
  FROM v7 v, b8 b
),
s8 AS (
  SELECT CAST(8 AS BIGINT) AS rank, b.l AS lft, b.r AS rgt,
         b.c AS pair_count,
         (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM v8)
           AS tokens_after
  FROM b8 b
)
SELECT * FROM s1
UNION ALL
SELECT * FROM s2
UNION ALL
SELECT * FROM s3
UNION ALL
SELECT * FROM s4
UNION ALL
SELECT * FROM s5
UNION ALL
SELECT * FROM s6
UNION ALL
SELECT * FROM s7
UNION ALL
SELECT * FROM s8
"""


@register(
    "text_bpe_train",
    BPE_TRAIN_ORACLE,
    "Distributed BPE merge TRAINING (Sennrich et al. 2016) - learns the "
    "merge table bpe_encode/text_bpe_encode apply from a pinned one "
    "(operators/text_stats.py BPE_MERGES): 8 unrolled rounds, each ONE "
    "vocabulary-level (l, r) pair aggregation weighted by word counts, "
    "a 1-row argmax winner ((count desc, l, r) tiebreak) joined back by "
    "broadcast (no driver collect), and the same left-to-right fold "
    "bpe_encode uses to apply it. Output is the learned table in rank "
    "order plus the corpus token count after each merge - the "
    "compression curve that justifies a vocabulary budget; the rows "
    "feed bpe_encode(word, merges=...) directly (pinned by pytest). "
    "Oracle: 8 chained CTE rounds, the graph_pagerank_centrality "
    "unrolled pattern, sharing the encode oracle's list_reduce fold "
    "idiom. Scale: the corpus is tokenized/counted ONCE; every round "
    "runs at vocabulary scale (Heaps law), so 100x the corpus grows "
    "the per-round aggregation input hardly at all.",
)
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.text_stats import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents").select("text")
    return bpe_train_merges(docs, "text", rounds=8)


# ---------------------------------------------------------------------------
# GD-TRAINED quality classifier (VERDICT r11 ask #6): quality_nb_distill is
# closed-form counting; this is the fastText-style trained student — hashed
# unigram features, a weight vector learned by 3 unrolled gradient rounds in
# fixed-point integer arithmetic (hard-sigmoid probability, toward-zero
# integer quotients), oracled by chained CTEs that replay the training
# trajectory round by round, exactly like emb_kmeans_lloyd / text_bpe_train.
# ---------------------------------------------------------------------------


def _logreg_round_ctes(i: int, eta_den: int) -> str:
    """Round i of the fixed-point gradient descent: margins under w{i-1},
    hard-sigmoid residuals, per-bucket gradients, updated weights w{i}.
    Mirrors operators/classifier.py::logreg_quality_distill — change both
    together. w{i} is MATERIALIZED: DuckDB inlines plain CTEs, and w{i}
    feeds BOTH round-(i+1) consumers, so without materialization the
    12-round chain expands 2^12-fold (measured: 3 rounds 2 s, 6 rounds
    164 s; materialized, 12 rounds run in ~4 s)."""
    return f"""
sc{i} AS (
  SELECT f.doc_id, f.y, CAST(sum(f.f * w.w) AS BIGINT) AS s
  FROM feats f JOIN w{i - 1} w USING (b) WHERE f.train = 1
  GROUP BY 1, 2
),
res{i} AS (
  SELECT doc_id,
         least(greatest(500000 + CASE WHEN s >= 0 THEN s // 4
                                      ELSE -((-s) // 4) END,
                        CAST(0 AS BIGINT)), CAST(1000000 AS BIGINT))
         - 1000000 * y AS r
  FROM sc{i}
),
grd{i} AS (
  SELECT f.b, CAST(sum(f.f * r.r) AS BIGINT) AS g
  FROM feats f JOIN res{i} r USING (doc_id) WHERE f.train = 1
  GROUP BY 1
),
w{i} AS MATERIALIZED (
  SELECT w.b,
         w.w - CASE WHEN coalesce(g.g, 0) >= 0
                    THEN coalesce(g.g, 0) // ({eta_den} * c.ntr)
                    ELSE -((-coalesce(g.g, 0)) // ({eta_den} * c.ntr))
               END AS w
  FROM w{i - 1} w LEFT JOIN grd{i} g USING (b) CROSS JOIN consts c
)"""


from yaml_pipe_spark.operators.classifier import (  # noqa: E402
    LOGREG_ETA_DEN,
    LOGREG_ROUNDS,
)

_LOGREG_ROUNDS_SQL = "".join(
    "," + _logreg_round_ctes(i, LOGREG_ETA_DEN * (2 ** (i - 1)))
    for i in range(1, LOGREG_ROUNDS + 1)
)

LOGREG_DISTILL_ORACLE = f"""
WITH {_DK_GOPHER},
lbl AS (
  SELECT doc_id,
         CAST(pass_words * pass_mean_word_len * pass_alpha * pass_stop
              AS BIGINT) AS y
  FROM gflags
),
toksx AS (
  SELECT d.doc_id, l.y,
         CASE WHEN {_dk_byte0("CAST(d.doc_id AS VARCHAR)")} < 0.8 * 256
              THEN 1 ELSE 0 END AS train,
         UNNEST(list_filter(regexp_split_to_array(d.text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents d JOIN lbl l USING (doc_id)
),
buck AS (
  SELECT doc_id, y, train,
         CAST({_dk_byte0("tok")} % 64 AS BIGINT) AS b
  FROM toksx
),
ntok AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM buck GROUP BY 1
),
feats0 AS (
  SELECT t.doc_id, t.y, t.train, t.b,
         CAST((count(*) * 1000) // max(n.nt) AS BIGINT) AS f
  FROM buck t JOIN ntok n USING (doc_id) GROUP BY 1, 2, 3, 4
),
per_doc AS (SELECT DISTINCT doc_id, y, train FROM buck),
feats AS MATERIALIZED (
  SELECT * FROM feats0
  UNION ALL
  SELECT doc_id, y, train, CAST(-1 AS BIGINT) AS b,
         CAST(1000 AS BIGINT) AS f
  FROM per_doc
  UNION ALL
  SELECT p.doc_id, p.y, p.train, CAST(-2 AS BIGINT) AS b,
         least(n.nt, 1000) AS f
  FROM per_doc p JOIN ntok n USING (doc_id)
),
consts AS MATERIALIZED (
  SELECT greatest(CAST(count(DISTINCT doc_id) AS BIGINT),
                  CAST(1 AS BIGINT)) AS ntr
  FROM feats WHERE train = 1
),
w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM feats)
{_LOGREG_ROUNDS_SQL},
sts AS (
  SELECT f.doc_id, f.y, CAST(sum(f.f * w.w) AS BIGINT) AS s
  FROM feats f JOIN w{LOGREG_ROUNDS} w USING (b) WHERE f.train = 0
  GROUP BY 1, 2
),
cm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN s >= 0 AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s >= 0 AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s < 0 AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN s < 0 AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM sts
),
pr AS (
  SELECT c.ntr AS n_train, cm.n_test, cm.tp, cm.fp, cm.fn, cm.tn,
         CASE WHEN cm.tp + cm.fp = 0 THEN 0.0
              ELSE floor(CAST(cm.tp AS DOUBLE) * 10000 / (cm.tp + cm.fp))
         END AS p4,
         CASE WHEN cm.tp + cm.fn = 0 THEN 0.0
              ELSE floor(CAST(cm.tp AS DOUBLE) * 10000 / (cm.tp + cm.fn))
         END AS r4
  FROM cm CROSS JOIN consts c
)
SELECT n_train, n_test, tp, fp, fn, tn,
       p4 / 10000 AS precision_q4,
       r4 / 10000 AS recall_q4,
       CASE WHEN p4 + r4 = 0 THEN 0.0
            ELSE floor(2 * p4 * r4 / (p4 + r4)) / 10000 END AS f1_q4
FROM pr
"""


@register(
    "quality_logreg_distill",
    LOGREG_DISTILL_ORACLE,
    "GD-TRAINED quality-classifier distillation (VERDICT r11 ask #6, the "
    "fastText-style stage the curation funnel cites): hashed unigram "
    "PER-MILLE shares (byte0(md5(tok)) % 64 buckets) + bias + clamped "
    "length, a weight vector learned by 12 unrolled gradient rounds with "
    "a halving step schedule, entirely in fixed-point integers — hard-"
    "sigmoid probability clamp(1/2 + s/4), toward-zero quotients so "
    "Spark DIV and DuckDB // agree, mistakes-only residuals (the "
    "perceptron property) — then the held-out confusion with floor-"
    "quantized precision/recall/f1 vs the Gopher-conjunction teacher, "
    "the quality_score_calibration report shape (sf0.01: acc 0.88, "
    "prec 0.84, rec 0.94 — vs the constant-step degenerate 0.52). The "
    "oracle replays every training round through chained MATERIALIZED "
    "CTEs; one wrong gradient anywhere flips the hash. 100 TB shape: "
    "per round ONE doc-keyed shuffle + ONE 66-row bucket combine with "
    "the weight vector broadcast both ways; per-round localCheckpoint "
    "of the 66-row weight frame keeps the unrolled DAG linear.",
)
def q_quality_logreg_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.operators.classifier import logreg_quality_distill
    from yaml_pipe_spark.operators.quality import gopher_quality_signals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # label + text from ONE corpus pass (keep_cols) — the join of the
    # signals back onto the corpus was a second scan + exchange (§2.4)
    labeled = gopher_quality_signals(docs, keep_cols=("text",)).select(
        "doc_id", "text", "gopher_pass"
    )
    return logreg_quality_distill(labeled)
