"""Text analysis for training-data pipelines: language ID, quality scoring,
token statistics, document fingerprinting.

North-star extension (absent in the reference, SURVEY §2.9). Everything is a
pure Catalyst expression over the text column — no UDFs, fully pushdown- and
codegen-friendly, and each has an exact DuckDB twin:

- occurrence counting via length-difference arithmetic
  (length(t) - length(replace(t, s, ''))) / length(s);
- regex feature counts via len(regexp_extract_all(...));
- language ID = argmax over per-language stopword-marker scores with a fixed
  CASE-chain tiebreak (deterministic in both engines);
- quality score = fixed-weight combination of bounded ratios, double math.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yaml_pipe_spark.functions.text import tokens

# language -> stopword markers (space-padded so they match whole words).
# Order fixes the argmax tiebreak.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "de": [" der ", " und ", " die ", " ist "],
    "fr": [" le ", " et ", " la ", " est "],
    "es": [" el ", " y ", " los ", " es "],
    "zh": ["的", "是", "在"],
}


def occurrences(col: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal substring.
    DuckDB twin: (length(t) - length(replace(t, s, ''))) // length(s)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def stop_hits(col: Column) -> Column:
    """Total stopword-marker hits across all languages, space-padded so
    markers match at text boundaries. DuckDB twin:
    entrypoints._shared._dk_stop_hits — change them together or
    Spark/oracle parity splits."""
    return sum(
        (
            occurrences(F.concat(F.lit(" "), col, F.lit(" ")), m)
            for ms in LANG_MARKERS.values()
            for m in ms
        ),
        F.lit(0).cast("long"),
    )


def lang_scores(col: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return {
        lang: sum(
            (occurrences(padded, m) for m in markers), F.lit(0).cast("long")
        )
        for lang, markers in LANG_MARKERS.items()
    }


def language_id(col: Column) -> Column:
    """Argmax language as a sequential CASE chain (earlier language wins
    ties, matching the SQL twin branch order); all-zero scores -> 'und'."""
    scores = lang_scores(col)
    langs = list(LANG_MARKERS)
    all_zero = F.lit(True)
    for lang in langs:
        all_zero = all_zero & (scores[lang] == 0)
    expr = F.when(all_zero, F.lit("und"))
    for i, lang in enumerate(langs[:-1]):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        expr = expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[-1]))


_PUNCT_RE = r"[.,;:!?'\"()\[\]{}-]"
_DIGIT_RE = r"[0-9]"
_WORD_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def regex_count(col: Column, pattern: str) -> Column:
    """DuckDB twin: len(regexp_extract_all(t, pattern))."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("long")


def text_statistics(
    df: DataFrame, text_col: str = "text", decimals: int = 4
) -> DataFrame:
    """Adds per-row columns: n_chars, n_tokens, n_bpe_tokens, punct_ratio,
    digit_ratio, stopword_ratio, quality_score."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_bpe = regex_count(t, _WORD_RE)
    n_punct = regex_count(t, _PUNCT_RE)
    n_digit = regex_count(t, _DIGIT_RE)
    n_stop_hits = stop_hits(t)
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_toks = F.greatest(n_tokens, F.lit(1))
    punct_ratio = F.round(n_punct / safe_chars, decimals)
    digit_ratio = F.round(n_digit / safe_chars, decimals)
    stop_ratio = F.round(n_stop_hits / safe_toks, decimals)
    quality = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.25
        + (1 - F.least(n_punct / safe_chars * 4, F.lit(1.0))) * 0.25
        + F.least(n_stop_hits / safe_toks * 3, F.lit(1.0)) * 0.25
        + F.least(n_tokens / safe_chars * 6, F.lit(1.0)) * 0.25,
        decimals,
    )
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_bpe_tokens", n_bpe)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("digit_ratio", digit_ratio)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("quality_score", quality)
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Winnowing-style fingerprint: the min/max md5 over word k-gram shingles
    plus the distinct-shingle count. (id, fp_min, fp_max, n_shingles)."""
    from yaml_pipe_spark.operators.dedup import token_shingles

    sh = token_shingles(df, text_col, id_col, k)
    return sh.groupBy(id_col).agg(
        F.min(F.md5(F.col("shingle"))).alias("fp_min"),
        F.max(F.md5(F.col("shingle"))).alias("fp_max"),
        F.countDistinct("shingle").alias("n_shingles"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """True winnowing (Schleimer/Wilkerson/Aiken, SIGMOD '03 — the MOSS
    fingerprinting algorithm): hash every word k-gram, slide a window of w
    consecutive hashes, keep each window's minimum. Guarantees any shared
    token run of length >= k + w - 1 between two documents shares at least
    one fingerprint, while storing ~1/w of the full k-gram set. Hashes are
    md5 hex strings (lexicographic min, identical across engines).

    Returns (id, n_grams, fps array<string>) for docs with at least
    k + w - 1 tokens; shorter docs have no complete window and are dropped
    (they opt out, like sub-k docs in token_shingles). Pure per-doc
    expressions, zero shuffles, zero Python; the complement of
    `doc_fingerprint` (which keeps only the global min/max).

    Expression shape matters here: the token and hash arrays are bound as
    LAMBDA VARIABLES via single-element transform() wrappers (a let-binding
    idiom) so each is evaluated exactly once per row. The naive chained
    projections version re-materialized the md5 array in every consumer
    the optimizer substituted it into (filter pushdown + project collapse)
    — measured 11.1s -> 0.44s at sf0.1 from this rewrite (PERF.md), with the md5
    transform appearing once in the optimized plan (pinned by
    tests/test_plans.py)."""
    from yaml_pipe_spark.session import spread_for_expansion

    # shuffle-free expression pipelines inherit the SCAN's parallelism:
    # rescue a single-file corpus from evaluating everything on one task
    df = spread_for_expansion(df)

    def hs_of(tv: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(tv) - (k - 1)),
            lambda i: F.md5(
                F.concat_ws(" ", *[F.get(tv, i + j - 1) for j in range(k)])
            ),
        )

    def windows_of(h: Column) -> Column:
        fps = F.transform(
            F.sequence(F.lit(1), F.size(h) - (w - 1)),
            lambda i: F.array_min(F.slice(h, i, w)),
        )
        return F.struct(
            F.size(h).cast("long").alias("n_grams"), fps.alias("fps")
        )

    bound = F.get(
        F.transform(
            F.array(tokens(F.col(text_col))),
            lambda tv: F.get(F.transform(F.array(hs_of(tv)), windows_of), 0),
        ),
        0,
    )
    # the min-token filter runs on the RAW column (one cheap tokenize per
    # row) so no post-projection filter can push down into — and thereby
    # re-materialize — the expensive bound expression
    return (
        df.filter(F.size(tokens(F.col(text_col))) >= k + w - 1)
        .select(id_col, bound.alias("__b"))
        .select(
            id_col,
            F.col("__b.n_grams").alias("n_grams"),
            F.col("__b.fps").alias("fps"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    decimals: int = 6,
) -> DataFrame:
    """Top-k characteristic terms per doc by smoothed tf-idf.

    tf = term count within the doc; idf = ln((N + 1) / (df + 1)) with N the
    number of docs contributing tokens and df the term's document frequency.
    One shuffle for tf (groupBy doc, term), one for df (groupBy term, the
    small side of a broadcast-able join at any corpus size where the
    vocabulary fits the broadcast threshold — otherwise a shuffle join on
    term), one window for the per-doc top-k. Ties broken lexicographically.
    Returns (id, term, tfidf DOUBLE rounded, rank).
    """
    from pyspark.sql import Window as W

    from yaml_pipe_spark.functions.text import tokens

    from yaml_pipe_spark.session import spread_for_expansion

    tok = spread_for_expansion(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    docfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    n_docs = tf.select(id_col).distinct().agg(
        F.count("*").alias("__n")
    )
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("__n") + 1) / (F.col("df") + 1)),
                decimals,
            ),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Real BPE encoding (pinned merges, vocabulary-level work)
# ---------------------------------------------------------------------------

# Pinned merge table in training order: every merge's output symbols are only
# consumed by LATER merges (the invariant real BPE training produces), so the
# min-rank iteration below is the standard GPT-2/HF encode loop. Kept small
# and English-shaped on purpose — the algorithm, not the vocabulary, is the
# deliverable; swap in a learned merges.txt on a real cluster.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("e", "n"), ("a", "t"),
    ("o", "r"), ("e", "s"), ("t", "i"), ("ti", "on"), ("in", "g"),
    ("o", "u"), ("a", "r"), ("a", "l"), ("s", "t"), ("l", "e"),
    ("m", "e"), ("d", "e"), ("c", "o"), ("co", "m"),
]
_BPE_RANK = {pair: i for i, pair in enumerate(BPE_MERGES)}


def bpe_encode(
    word: str, merges: list[tuple[str, str]] | None = None
) -> list[str]:
    """The real BPE merge loop: repeatedly find the LOWEST-rank adjacent
    symbol pair present and merge its occurrences left-to-right
    (non-overlapping) until no pair is in the table. The per-rank pass is
    a fold — merge when the accumulator's last symbol equals l and the
    incoming symbol equals r — which is exactly the left-to-right
    non-overlap semantics ('aaaaa' with merge (a,a) -> [aa, aa, a]) and
    is mirrored verbatim by the oracle's list_reduce.

    `merges` defaults to the pinned table; pass the output of
    bpe_train_merges (rank order) to encode with a corpus-learned one."""
    if merges is None:
        table, rank = BPE_MERGES, _BPE_RANK
    else:
        table = list(merges)
        rank = {pair: i for i, pair in enumerate(table)}
    syms = list(word)
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        lft, rgt = table[best]
        out: list[str] = []
        for x in syms:
            if out and out[-1] == lft and x == rgt:
                out[-1] = lft + rgt
            else:
                out.append(x)
        syms = out
    return syms


def bpe_train_merges(
    df: DataFrame, text_col: str = "text", rounds: int = 8
) -> DataFrame:
    """Distributed BPE merge TRAINING (Sennrich et al. 2016) — the missing
    half of the tokenizer story next to bpe_encode's pinned table: learn
    `rounds` merges from the corpus itself. Round t is the textbook step:
    count adjacent symbol pairs over the vocabulary weighted by word
    occurrence counts, pick the most frequent pair ((count desc, l, r)
    tiebreak so both engines agree), merge its occurrences left-to-right
    (the same fold semantics bpe_encode applies), repeat.

    Scale design (the graph_pagerank_centrality unrolled-round pattern):
    the corpus is tokenized and counted ONCE — everything after runs at
    VOCABULARY scale (Heaps' law keeps distinct words tiny vs a 100 TB
    corpus). Each round is one vocab-level (l, r) aggregation, a 1-row
    winner joined back via broadcast (never a driver collect), and a
    narrow array fold; localCheckpoint bounds the unrolled plan and the
    round's winner is computed from a materialized frame, not re-derived.

    Returns (rank BIGINT 1-based, lft, rgt, pair_count BIGINT,
    tokens_after BIGINT) — tokens_after is the corpus token count after
    applying merges 1..rank: the compression curve that justifies the
    vocabulary budget. The output rows, ordered by rank, are exactly the
    (l, r) table bpe_encode(word, merges=...) consumes.

    If the pair supply runs dry before `rounds` (every word fully
    merged or single-symbol), the table TRUNCATES at the last real
    merge — the empty winner frame cascades through the cross joins
    identically in both engines; the adversarial-corpora test pins the
    truncated output against the greedy reference."""
    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
    )
    vocab = (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    cur = vocab.select(
        "word",
        "cnt",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("syms"),
    ).localCheckpoint()

    stats_frames = []
    for t in range(1, rounds + 1):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.get("syms", i - 1).alias("l"),
                            F.get("syms", i).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
        )
        best = (
            pairs.orderBy(
                F.col("pair_count").desc(), F.col("l"), F.col("r")
            )
            .limit(1)
            .localCheckpoint()
        )
        b = best.select(
            F.col("l").alias("__l"),
            F.col("r").alias("__r"),
        )
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.try_element_at(acc, F.lit(-1)) == F.col("__l"))
                & (x == F.col("__r")),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.concat(F.try_element_at(acc, F.lit(-1)), x)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        cur = (
            cur.crossJoin(F.broadcast(b))
            .select("word", "cnt", merged.alias("syms"))
            .localCheckpoint()
        )
        toks = cur.agg(
            F.sum(F.col("cnt") * F.size("syms")).cast("long").alias(
                "tokens_after"
            )
        )
        stats_frames.append(
            best.select(
                F.lit(t).cast("long").alias("rank"),
                F.col("l").alias("lft"),
                F.col("r").alias("rgt"),
                "pair_count",
            ).crossJoin(F.broadcast(toks))
        )
    out = stats_frames[0]
    for fr in stats_frames[1:]:
        out = out.unionByName(fr)
    return out


def bpe_token_stats(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Per-language BPE token accounting with the REAL merge loop.

    Scale design: the iterative encode runs once per DISTINCT word
    (vocabulary-level work — Heaps' law keeps the vocab tiny relative to
    a 100 TB corpus), in one Arrow mapInPandas pass; occurrence counts
    join back against it. The corpus-scale operations are all Catalyst:
    regexp word extraction, explode, two keyed aggregations.
    """
    from yaml_pipe_spark.session import spread_for_expansion

    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
    )
    # NULL lang coalesces to the 'und' sentinel (ISO 639 undetermined) so
    # the cohort stays in the token accounting instead of being silently
    # dropped by the inner lang joins below — same null-safe-lang policy as
    # corpus_temperature_mix. The oracle applies the identical coalesce.
    occ = spread_for_expansion(df).select(
        F.coalesce(F.col(lang_col), F.lit("und")).alias("lang"),
        F.explode(words).alias("word"),
    )
    counts = occ.groupBy("lang", "word").agg(F.count("*").alias("occ"))
    vocab = counts.select("word").distinct()

    import pandas as pd

    def encode_batch(it):
        for pdf in it:
            encoded = [bpe_encode(w) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_bpe": [len(t) for t in encoded],
                    "toks": encoded,
                }
            )

    enc = vocab.mapInPandas(
        encode_batch, "word string, n_bpe int, toks array<string>"
    ).localCheckpoint()  # two consumers (stats join + type explode)

    joined = counts.join(enc, "word")
    stats = joined.groupBy("lang").agg(
        F.sum("occ").cast("long").alias("n_word_occurrences"),
        F.sum(F.col("occ") * F.col("n_bpe")).cast("long").alias(
            "total_bpe_tokens"
        ),
    )
    types = (
        joined.select("lang", F.explode("toks").alias("tok"))
        .distinct()
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_token_types"))
    )
    return stats.join(types, "lang").select(
        "lang",
        "n_word_occurrences",
        "total_bpe_tokens",
        F.round(
            F.col("total_bpe_tokens") / F.col("n_word_occurrences"), 4
        ).alias("avg_bpe_per_word"),
        "n_token_types",
    )


def bigram_doc_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, prev, cur, c_dt) — the corpus's bigram sufficient statistic.

    Every bigram-LM consumer (per-group logprob, DoReMi excess, ccnet
    buckets) aggregates from exactly this frame: counts per (doc, bigram)
    are grouping-independent because any group column (lang, source, a
    constant) is functional of the doc, so ONE tokenize + ONE (doc, bigram)
    shuffle serves them all. (A persisted store for it was measured and
    REJECTED — the statistic is corpus-footprint-sized, so serving it from
    parquet costs what rebuilding costs: at sf0.1 two of its consumers
    got slower, 2.29 -> 3.16 s and 2.34 -> 2.77 s.)"""
    from yaml_pipe_spark.session import spread_for_expansion

    # the tokenize+explode runs BEFORE the first shuffle and inherits the
    # scan's split count — rescue a single-file corpus
    docs = spread_for_expansion(docs)
    t = F.regexp_extract_all(F.lower(text_col), F.lit(r"\p{L}+"), F.lit(0))
    base = docs.select(id_col, t.alias("t")).filter(F.size("t") >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.get(F.col("t"), i - 1).alias("prev"),
            F.get(F.col("t"), i).alias("cur"),
        ),
    )
    bgs = base.select(id_col, F.explode(grams).alias("g")).select(
        id_col, F.col("g.prev"), F.col("g.cur")
    )
    bgs = bgs.filter(F.col("prev").isNotNull() & F.col("cur").isNotNull())
    return bgs.groupBy(id_col, "prev", "cur").agg(F.count("*").alias("c_dt"))


def bigram_doc_logprob_from_dt(
    dt: DataFrame, groups: DataFrame, group_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """bigram_doc_logprob served from a prebuilt (id, prev, cur, c_dt)
    frame (bigram_doc_table, typically localCheckpointed so several
    groupings share one corpus pass): the group column
    attaches via one equi-join on the doc key (`groups` = (id, group), one
    row per doc), then the LM/prev-marginal/scoring pipeline is identical
    to the direct path — values are the same because any group column is
    functional of the doc, so per-(group, doc, bigram) counts equal
    per-(doc, bigram) counts."""
    gdim = groups.select(id_col, group_col).filter(
        F.col(group_col).isNotNull()
    )
    gdt = dt.join(gdim, id_col)
    lm = gdt.groupBy(group_col, "prev", "cur").agg(
        F.sum("c_dt").alias("c_bg")
    )
    pv = lm.groupBy(group_col, "prev").agg(F.sum("c_bg").alias("c_prev"))
    lmj = lm.join(pv, [group_col, "prev"]).select(
        group_col,
        "prev",
        "cur",
        (
            F.log10(F.col("c_bg").cast("double"))
            - F.log10(F.col("c_prev").cast("double"))
        ).alias("lp"),
    )
    return (
        gdt.join(lmj, [group_col, "prev", "cur"])
        .groupBy(group_col, id_col)
        .agg(
            (F.sum(F.col("c_dt") * F.col("lp")) / F.sum("c_dt")).alias("lp0")
        )
    )


def bigram_doc_logprob(
    docs: DataFrame,
    group_col: str = "lang",
    doc_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    per-`group_col` bigram LM: (group_col, doc_id, lp0 double).
    Default grouping is language (the CCNet shape); quality_rho_excess
    re-groups by source and by a constant to difference the domain LM
    against the general LM.

    The KenLM-style quality signal used by CCNet-family pipelines, trained
    on the corpus itself so no smoothing is needed (every scored bigram is
    in its own training set). Shared core of text_bigram_logprob (per-lang
    rollup) and corpus_ccnet_buckets (per-lang perplexity terciles).

    Plan: one (doc, bigram) count shuffle; the LM and the prev-marginal
    both derive from it (vocabulary-sized aggs); the conditional log-prob
    attaches at the LM level (vocab-vs-vocab join on (lang, prev)) so the
    hot-prev skew never touches the doc-level stream, which joins once on
    the full (lang, prev, cur) key.

    `doc_cols` carries additional PER-DOC columns of `docs` (each must be
    functional of doc_id — e.g. a per-row quality score) through the
    diamond into the output, riding the grouping keys. A consumer that
    needs the logprob AND such a column then avoids joining a second
    full corpus scan back on doc_id (guide §2.4); the carried bytes only
    widen the (doc, bigram) rows by the column's width, while the join
    alternative re-reads the text column end to end.
    """
    t = F.regexp_extract_all(F.lower("text"), F.lit(r"\p{L}+"), F.lit(0))
    extra = list(doc_cols)
    base = docs.select(group_col, "doc_id", *extra, t.alias("t")).filter(
        F.size("t") >= 2
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.get(F.col("t"), i - 1).alias("prev"),
            F.get(F.col("t"), i).alias("cur"),
        ),
    )
    bgs = base.select(
        group_col, "doc_id", *extra, F.explode(grams).alias("g")
    ).select(
        group_col, "doc_id", *extra, F.col("g.prev"), F.col("g.cur")
    )
    # explicit null-filters (same trick as text_unigram_logprob): the two
    # joins push different isnotnull subsets into their dt branches (the
    # lm⋈pv chain only needs (lang, prev); the doc join needs cur too),
    # which would fork the subtrees and block ReuseExchange — a second
    # full corpus scan
    bgs = bgs.filter(
        F.col(group_col).isNotNull()
        & F.col("prev").isNotNull()
        & F.col("cur").isNotNull()
    )
    dt = bgs.groupBy(group_col, "doc_id", *extra, "prev", "cur").agg(
        F.count("*").alias("c_dt")
    )
    lm = dt.groupBy(group_col, "prev", "cur").agg(F.sum("c_dt").alias("c_bg"))
    pv = lm.groupBy(group_col, "prev").agg(F.sum("c_bg").alias("c_prev"))
    lmj = lm.join(pv, [group_col, "prev"]).select(
        group_col,
        "prev",
        "cur",
        (
            F.log10(F.col("c_bg").cast("double"))
            - F.log10(F.col("c_prev").cast("double"))
        ).alias("lp"),
    )
    return (
        dt.join(lmj, [group_col, "prev", "cur"])
        .groupBy(group_col, "doc_id", *extra)
        .agg(
            (F.sum(F.col("c_dt") * F.col("lp")) / F.sum("c_dt")).alias("lp0")
        )
    )
