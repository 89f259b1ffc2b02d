"""Shared registry infrastructure: REGISTRY/register, cross-family helpers and oracle fragments."""

# Split from the original entrypoints.py monolith (round 11);
# blocks keep their original relative order.

from __future__ import annotations

from dataclasses import dataclass
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from typing import Callable, Optional
from yaml_pipe_spark.tables import load_table


def fq_unit_mean(col: Column, unit_dp: int, out_dp: int, n: Column) -> Column:
    """Floor-quantized mean of a unit_dp-rounded grid value, over EXACT
    integer unit sums — the fix for a mean of grid values, where an exact
    round-boundary tie is reachable and Spark's HALF_UP on the decimal
    expansion and DuckDB's x*10^k->round->/10^k can round it apart;
    single-sourced so future hardened sites cannot drift from the
    contract: sum(round(col*10^unit)::long) is exact (col is already on
    the unit grid), the one double division is deterministic for
    identical integers in both engines, and floor has no tie to break.
    The scale step mirrors the oracle form EXACTLY (multiply when
    out >= unit, divide otherwise — the two produce different doubles,
    so the choice is part of the cross-engine contract)."""
    s = F.sum(F.round(col * float(10 ** unit_dp)).cast("long")).cast("double")
    if out_dp > unit_dp:
        q = s * (10 ** (out_dp - unit_dp)) / n
    elif out_dp == unit_dp:
        q = s / n
    else:
        q = s / (n * (10 ** (unit_dp - out_dp)))
    return F.floor(q) / float(10 ** out_dp)


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        if name in REGISTRY:
            # dict-last-wins would silently shadow the earlier query AND
            # its oracle — a correctness trap, so fail at import time
            raise ValueError(f"duplicate query registration: {name!r}")
        REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Vector path: deterministic hash embedder, top-k cosine (Q1), hit-rate (Q2)
# ---------------------------------------------------------------------------

# DuckDB twins of functions.vectors (explicit indexed sums: left-to-right
# double folds, bit-identical to Spark's F.aggregate).


def _dk_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _dk_cos(a: str, b: str) -> str:
    return f"({_dk_dot(a, b)} / sqrt({_dk_dot(a, a)} * {_dk_dot(b, b)}))"


# ---------------------------------------------------------------------------
# Dedup suite (north-star extension; absent in the reference, SURVEY §2.9)
# ---------------------------------------------------------------------------

_DK_SHINGLES = r"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
sh0 AS (
  SELECT doc_id, UNNEST(generate_series(1, len(t) - 2)) AS i, t
  FROM toks WHERE len(t) >= 3
),
shingles AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM sh0
)"""


_DK_SIGS = ", ".join(
    f"min(md5('{s}:' || shingle)) AS sig_{s}" for s in range(16)
)


_DK_BUCKETS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_id, md5('{b}|' || "
    + " || ".join(f"sig_{b * 4 + r}" for r in range(4))
    + ") AS band_key FROM sigs"
    for b in range(4)
)


# Skew-guard twins (mirror operators/dedup.py defaults): LSH buckets larger
# than 10k members are dropped before pairing; the inverted index keeps only
# shingles with document frequency <= max(floor(0.005 * n_docs), 50). Inert
# at test scale (no bucket nears 10k, df never exceeds 50), load-bearing at
# 100 TB — expressed in BOTH engines so the twins stay semantically equal.
_DK_DF_CUT = """
thr AS (
  SELECT greatest(CAST(floor(0.005 * count(DISTINCT doc_id)) AS BIGINT),
                  50) AS t
  FROM shingles
),
dfq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1),
shf AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s JOIN dfq USING (shingle), thr
  WHERE dfq.df <= thr.t
)"""


MINHASH_ORACLE = f"""
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
         round(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
  FROM inter i
  JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
)
SELECT id_a, id_b, jaccard FROM vpairs WHERE jaccard >= 0.8
"""


INCREMENTAL_MINHASH_ORACLE = f"""
WITH {_DK_SHINGLES},
spl AS (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) AS s FROM documents),
sigs AS (SELECT doc_id, {_DK_SIGS} FROM shingles GROUP BY doc_id),
buckets0 AS ({_DK_BUCKETS}),
state AS (
  SELECT doc_id, band_id, band_key FROM (
    SELECT b.*, count(*) OVER (PARTITION BY band_id, band_key) AS bn
    FROM buckets0 b, spl WHERE b.doc_id < spl.s
  ) WHERE bn <= 10000
),
newb AS (
  SELECT doc_id, band_id, band_key FROM (
    SELECT b.*, count(*) OVER (PARTITION BY band_id, band_key) AS bn
    FROM buckets0 b, spl WHERE b.doc_id >= spl.s
  ) WHERE bn <= 10000
),
cands AS (
  SELECT DISTINCT s.doc_id AS id_a, n.doc_id AS id_b
  FROM newb n
  JOIN state s ON n.band_id = s.band_id AND n.band_key = s.band_key
             AND s.doc_id < n.doc_id
  UNION
  SELECT DISTINCT a.doc_id, b.doc_id
  FROM newb a
  JOIN newb b ON a.band_id = b.band_id AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
ash AS (SELECT doc_id, shingle FROM shingles
        WHERE doc_id IN (SELECT id_a FROM cands)),
bsh AS (SELECT doc_id, shingle FROM shingles
        WHERE doc_id IN (SELECT id_b FROM cands)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ash a JOIN bsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
vp AS (
  SELECT c.id_a, c.id_b,
         round(i.inter / (sa.n + sb.n - i.inter), 4) AS j
  FROM cands c
  JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE round(i.inter / (sa.n + sb.n - i.inter), 4) >= 0.8
),
best AS (SELECT id_b AS doc_id, min(id_a) AS dup_of FROM vp GROUP BY 1),
bestj AS (
  SELECT b.doc_id, b.dup_of, v.j
  FROM best b JOIN vp v ON v.id_b = b.doc_id AND v.id_a = b.dup_of
),
newdocs AS (SELECT doc_id FROM documents, spl WHERE doc_id >= spl.s),
incmin AS (SELECT min(doc_id) AS m FROM newdocs)
SELECT nd.doc_id, bj.dup_of, bj.j AS jaccard,
       CASE WHEN bj.dup_of IS NULL THEN 'kept'
            WHEN bj.dup_of < (SELECT m FROM incmin) THEN 'dup_old'
            ELSE 'dup_new' END AS reason
FROM newdocs nd LEFT JOIN bestj bj USING (doc_id)
"""


_DK_BIT = (
    "(2 * (((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)"
    " // (CASE WHEN j % 4 = 0 THEN 8 WHEN j % 4 = 1 THEN 4"
    "          WHEN j % 4 = 2 THEN 2 ELSE 1 END)) % 2) - 1)"
)


SIMHASH_FP_CTE = f"""
toks AS (
  SELECT doc_id,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
           AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
hh AS (SELECT doc_id, tf, md5(tok) AS h FROM tf),
ex AS (SELECT doc_id, tf, h, UNNEST(generate_series(0, 63)) AS j FROM hh),
bitc AS (
  SELECT doc_id, j, sum(tf * {_DK_BIT}) AS s FROM ex GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
           AS simhash
  FROM bitc GROUP BY doc_id
)"""


_SIMHASH_PAIR_CTES = f"""{SIMHASH_FP_CTE},
expanded AS (
  SELECT doc_id, simhash, UNNEST(generate_series(0, 3)) AS band_id FROM fp
),
buck AS (
  SELECT doc_id, simhash, band_id,
         substr(simhash, CAST(band_id * 16 + 1 AS INT), 16) AS band_key
  FROM expanded
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS fa, b.simhash AS fb
  FROM buck a
  JOIN buck b ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
),
ham AS (
  SELECT id_a, id_b,
         len(list_filter(generate_series(1, 64),
                         i -> substr(fa, CAST(i AS INT), 1)
                              <> substr(fb, CAST(i AS INT), 1))) AS hamming
  FROM pairs
)"""


# Shared persisted pair graph (operators/pair_graph.py::PairGraphStore):
# the six SimHash-audit queries — pairs, cluster resolution, levenshtein
# verify, split leakage, canonical quality, PageRank — all consume the same
# pair frame and/or its CC labels. Before round 7 each re-shingled the
# corpus and re-ran the banding join (+ iterative CC) from scratch; now the
# first query of a session builds the store once (fingerprint-gated) and
# the rest serve off persisted parquet that is pair-mass-sized, not
# corpus-sized. The oracles are untouched: the persisted tables hold
# exactly the frames the direct computation produced.
def _pair_graph_store(spark: SparkSession, sf_dir: str):
    import os

    from yaml_pipe_spark.operators.pair_graph import PairGraphStore

    store = PairGraphStore(
        os.path.join(
            "spark-warehouse",
            f"pair_graph_{os.path.basename(os.path.normpath(sf_dir))}",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store.build_if_stale(docs)
    return store


# Shared persisted MinHash overlap (operators/pair_graph.py::
# MinHashOverlapStore): five queries consume the same standard-config
# verify frame — jaccard pairs, containment, per-source dup rate, the
# dedup funnel, and fuzzy decontamination (a strata filter over the same
# candidate universe). First query of a session builds once
# (fingerprint-gated); the rest project the persisted overlap.
def _minhash_overlap_store(spark: SparkSession, sf_dir: str):
    import os

    from yaml_pipe_spark.operators.pair_graph import MinHashOverlapStore

    store = MinHashOverlapStore(
        os.path.join(
            "spark-warehouse",
            f"minhash_overlap_{os.path.basename(os.path.normpath(sf_dir))}",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store.build_if_stale(docs)
    return store


def _dk_occ(p: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return f"((length({p}) - length(replace({p}, '{n}', ''))) // {len(needle)})"


_DK_NTOK = "len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))"


_DK_PUNCT = (
    "len(regexp_extract_all(text, '[.,;:!?''\"()\\[\\]{}-]'))"
)


def _dk_stop_hits() -> str:
    from yaml_pipe_spark.operators.text_stats import LANG_MARKERS

    return " + ".join(
        _dk_occ("(' ' || text || ' ')", m)
        for ms in LANG_MARKERS.values()
        for m in ms
    )


def _dk_byte0(expr: str) -> str:
    return (
        f"((strpos('0123456789abcdef', substr(md5({expr}), 1, 1)) - 1) * 16 + "
        f"(strpos('0123456789abcdef', substr(md5({expr}), 2, 1)) - 1))"
    )


# ---------------------------------------------------------------------------
# Session windows: native F.session_window (batch + streaming twins).
# Boundary semantics are STRICT (gap exactly = 30 min starts a new session),
# vs events_sessionize's inclusive ledger islands — both shipped, both
# oracle-checked, the difference documented here.
# ---------------------------------------------------------------------------

SESSION_WINDOW_ORACLE = """
WITH g AS (
  SELECT user_id, ts, value,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_us
  FROM events
),
flags AS (
  SELECT *, CASE WHEN prev_us IS NULL
                   OR epoch_us(ts) - prev_us >= 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM g
),
sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_seq
  FROM flags
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM sess GROUP BY user_id, session_seq
"""


INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       v.event_id AS view_id, v.ts AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts <= p.ts
"""


# Shared oracle core for the IVF-PQ family: assignment, probes, codes, ADC
# ranking, exact re-rank — everything up to `final`. ann_ivfpq_topk appends
# the brute-force `exact`/hit audit; ann_index_persisted (identical serve
# semantics off the persisted tables) selects from `final` directly.
_ANN_IVFPQ_CORE = f"""
WITH c AS (
  SELECT vec_id - 20 AS cid, embedding AS cv
  FROM embeddings WHERE vec_id >= 20 AND vec_id < 28
),
x AS (
  SELECT vec_id, embedding AS xv,
         list_transform(embedding, v -> least(greatest(
           CAST(floor(CAST(v AS DOUBLE) * 8) AS BIGINT) + 2,
           CAST(0 AS BIGINT)), CAST(3 AS BIGINT))) AS code
  FROM embeddings WHERE vec_id >= 20
),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY round({_dk_cos('x.xv', 'c.cv')}, 6) DESC, c.cid) AS rn
    FROM x, c
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20
),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round({_dk_cos('q.qv', 'c.cv')}, 6) DESC, c.cid) AS rn
    FROM q, c
  ) WHERE rn <= 2
),
adc AS (
  SELECT p.qid, a.vec_id,
         round(list_sum(list_transform(
           list_transform(generate_series(1, len(q.qv)),
             i -> CAST(q.qv[i] AS DOUBLE)
                  - (CAST(x.code[i] AS DOUBLE) - 1.5) / 8),
           y -> y * y)), 6) AS adc_r
  FROM probes p
  JOIN asg a ON a.cid = p.cid
  JOIN x ON x.vec_id = a.vec_id
  JOIN q ON q.qid = p.qid
),
topm AS (
  SELECT qid, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY adc_r, vec_id) AS ar
    FROM adc
  ) WHERE ar <= 20
),
rer AS (
  SELECT t.qid, t.vec_id, round({_dk_cos('x.xv', 'q.qv')}, 6) AS score
  FROM topm t
  JOIN x ON x.vec_id = t.vec_id
  JOIN q ON q.qid = t.qid
),
final AS (
  SELECT qid, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id) AS rank
  FROM rer
)"""


ANN_INDEX_PERSISTED_ORACLE = _ANN_IVFPQ_CORE + """
SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, score
FROM final WHERE rank <= 5
"""


# Shared by text_bigram_logprob (per-lang rollup) and corpus_ccnet_buckets
# (per-lang perplexity terciles): per-doc mean bigram log10-probability under
# the corpus's own per-language bigram LM (operators/text_stats.py::
# bigram_doc_logprob is the Spark twin — change them together).
_DK_BIGRAM_DOC = r"""toks AS (
  SELECT lang, doc_id, regexp_extract_all(lower(text), '\p{L}+') AS t
  FROM documents
),
bg0 AS (
  SELECT lang, doc_id, UNNEST(generate_series(1, len(t) - 1)) AS i, t
  FROM toks WHERE len(t) >= 2
),
bgs AS (SELECT lang, doc_id, t[i] AS prev, t[i+1] AS cur FROM bg0),
dt AS (
  SELECT lang, doc_id, prev, cur, count(*) AS c_dt
  FROM bgs GROUP BY 1, 2, 3, 4
),
lm AS (SELECT lang, prev, cur, sum(c_dt) AS c_bg FROM dt GROUP BY 1, 2, 3),
pv AS (SELECT lang, prev, sum(c_bg) AS c_prev FROM lm GROUP BY 1, 2),
lmj AS (
  SELECT lm.lang, lm.prev, lm.cur,
         log10(CAST(lm.c_bg AS DOUBLE))
           - log10(CAST(pv.c_prev AS DOUBLE)) AS lp
  FROM lm JOIN pv ON lm.lang = pv.lang AND lm.prev = pv.prev
),
doc AS (
  SELECT dt.lang, dt.doc_id,
         sum(dt.c_dt * lmj.lp) / sum(dt.c_dt) AS lp0
  FROM dt JOIN lmj ON dt.lang = lmj.lang AND dt.prev = lmj.prev
                  AND dt.cur = lmj.cur
  GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------------
# Round 5: heuristic quality curation (Gopher rules, repetition signals,
# staged quality funnel), CCNet-style perplexity bucketing, and the
# leakage-safe train/valid split audit. The reference stops at chunk/embed
# (components/chunkers.py, embedders.py); these are the curation stages a
# 100 TB corpus build runs in front of it (SURVEY §2.9 north-star scope).
# ---------------------------------------------------------------------------

# DuckDB twins of operators/quality.py — change them together.
_DK_GOPHER = r"""gt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
gc AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
         list_sum(list_transform(t, x -> length(x))) AS word_chars,
         len(list_filter(t, x -> regexp_matches(x, '\p{L}'))) AS alpha_words,
         (CAST(list_contains(t, 'the') AS INT)
          + CAST(list_contains(t, 'and') AS INT)
          + CAST(list_contains(t, 'of') AS INT)
          + CAST(list_contains(t, 'is') AS INT)) AS stop_distinct
  FROM gt
),
g0 AS (
  SELECT doc_id, n_words, stop_distinct,
         CASE WHEN n_words > 0
              THEN word_chars / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mwl,
         CASE WHEN n_words > 0
              THEN alpha_words / CAST(n_words AS DOUBLE) ELSE 0.0 END AS alpha
  FROM gc
),
gflags AS (
  SELECT doc_id, n_words, mwl, alpha, stop_distinct,
         CAST(n_words BETWEEN 50 AND 100000 AS INT) AS pass_words,
         CAST(mwl BETWEEN 3 AND 10 AS INT) AS pass_mean_word_len,
         CAST(alpha >= 0.8 AS INT) AS pass_alpha,
         CAST(stop_distinct >= 1 AS INT) AS pass_stop
  FROM g0
)"""


_DK_REP = r"""rt AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
rg AS (
  SELECT doc_id, n_chars, 2 AS n, array_to_string(t[i:i+1], ' ') AS gram
  FROM (SELECT doc_id, n_chars, t,
               UNNEST(generate_series(1, len(t) - 1)) AS i
        FROM rt WHERE len(t) >= 2)
  UNION ALL
  SELECT doc_id, n_chars, 3 AS n, array_to_string(t[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, n_chars, t,
               UNNEST(generate_series(1, len(t) - 2)) AS i
        FROM rt WHERE len(t) >= 3)
),
rcnt AS (
  SELECT doc_id, n, gram, count(*) AS c, max(n_chars) AS n_chars
  FROM rg GROUP BY 1, 2, 3
),
rtop AS (
  SELECT doc_id, n, c AS top_c, gram AS top_gram FROM rcnt
  QUALIFY row_number() OVER (PARTITION BY doc_id, n
                             ORDER BY c DESC, gram DESC) = 1
),
rdup AS (
  SELECT doc_id, n,
         sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS dup_chars,
         max(n_chars) AS n_chars
  FROM rcnt GROUP BY 1, 2
),
rpern AS (
  SELECT d.doc_id, d.n, t.top_c, t.top_gram, d.dup_chars, d.n_chars
  FROM rdup d JOIN rtop t USING (doc_id, n)
),
rdoc0 AS (
  SELECT doc_id,
    max(CASE WHEN n = 2
        THEN round(top_c * length(top_gram) / n_chars, 4) END) AS top2_frac,
    max(CASE WHEN n = 3
        THEN round(top_c * length(top_gram) / n_chars, 4) END) AS top3_frac,
    max(CASE WHEN n = 2
        THEN round(dup_chars / n_chars, 4) END) AS dup2_frac
  FROM rpern GROUP BY 1
),
rdoc AS (
  SELECT b.doc_id, coalesce(top2_frac, 0.0) AS top2_frac,
         coalesce(top3_frac, 0.0) AS top3_frac,
         coalesce(dup2_frac, 0.0) AS dup2_frac
  FROM documents b LEFT JOIN rdoc0 USING (doc_id)
)"""


# Lexical-retrieval core shared by q3_bm25_topk / q3_hybrid_rrf /
# q3_bm25_index_persisted / q3_hybrid_lexical_vector (and their oracles):
# token stats, tf-idf-selected pseudo-queries (the top-3 most
# discriminative terms of every 97th doc — known-item search, so the source
# doc's self-retrieval rank is a built-in sanity signal), and the candidate
# grid of docs sharing at least one query term with tf=0 rows preserved
# (query-likelihood needs the smoothing-only contribution of absent terms).
# `src` parametrizes the corpus (the hybrid query restricts documents to
# the embedded subset so both arms rank the same universe).
def _dk_retrieval_core(src: str = "documents") -> str:
    return rf"""toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\p{{L}}+')) AS tok
  FROM {src}
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
cf AS (SELECT tok, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY 1),
ctot AS (SELECT sum(dl) AS c FROM dl),
qtf AS (
  SELECT tf.doc_id AS qid, tf.tok, tf.tf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln(s.n_docs * 1.0 / c.df) DESC, tf.tok
         ) AS rn
  FROM tf JOIN cf c USING (tok) CROSS JOIN stats s
  WHERE tf.doc_id % 97 = 0 AND len(tf.tok) >= 4
),
qterms AS (SELECT qid, tok FROM qtf WHERE rn <= 3),
cand AS (SELECT DISTINCT q.qid, t.doc_id FROM qterms q JOIN tf t USING (tok)),
grid AS (SELECT c.qid, c.doc_id, q.tok FROM cand c JOIN qterms q USING (qid)),
g AS (
  SELECT grid.qid, grid.doc_id, grid.tok, coalesce(t.tf, 0) AS tf
  FROM grid LEFT JOIN tf t
    ON grid.doc_id = t.doc_id AND grid.tok = t.tok
),
sc AS (
  SELECT g.qid, g.doc_id,
         sum(ln(1 + (s.n_docs - c.df + 0.5) / (c.df + 0.5))
             * g.tf * 2.2
             / (g.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS bm25,
         sum(ln((g.tf + 300.0 * c.cf / ct.c) / (d.dl + 300.0))) AS ql
  FROM g
  JOIN dl d ON g.doc_id = d.doc_id
  JOIN cf c ON g.tok = c.tok
  CROSS JOIN stats s CROSS JOIN ctot ct
  GROUP BY 1, 2
)"""


_DK_RETRIEVAL_CORE = _dk_retrieval_core()


# ONE oracle for both BM25 rankings: the in-query q3_bm25_topk and the
# persisted-index q3_bm25_index_persisted, whose contract is value-equality
# with it (editing one convention cannot desynchronize the twin).
_BM25_TOPK_ORACLE = f"""
WITH {_DK_RETRIEVAL_CORE},
r AS (SELECT qid, doc_id, round(bm25, 4) AS score FROM sc),
rk AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id) AS rank
  FROM r
)
SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, score,
       CAST(CASE WHEN doc_id = qid THEN 1 ELSE 0 END AS BIGINT) AS is_self
FROM rk WHERE rank <= 10
"""
