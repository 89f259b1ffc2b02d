"""Property-based invariants (hypothesis) over the core operators.

The reference tests only golden strings (SURVEY §5); these add randomized
structural guarantees. Each property batches its generated examples into ONE
DataFrame per case so the Spark-job count stays small.
"""

from __future__ import annotations

import pytest

# driver fast lane (r14): hypothesis property sweeps (~1 min)
pytestmark = pytest.mark.slow

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c\nd#ef "), min_size=0, max_size=400
    ),
    min_size=1,
    max_size=12,
)

SETTINGS = dict(max_examples=5, deadline=None)


@given(texts=TEXTS)
@settings(**SETTINGS)
def test_fixed_chunks_reconstruct_text(spark, texts):
    """Chunks tile the text: chunk i covers [i*stride, i*stride+size); the
    stride-prefixes of all chunks plus the tail reconstruct the document,
    and chunk_index is contiguous from 1."""
    from yaml_pipe_spark.operators.chunkers import fixed_window_chunks

    size, overlap = 50, 10
    stride = size - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    chunks = (
        fixed_window_chunks(df, "text", size, overlap)
        .orderBy("doc_id", "chunk_index")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        rows = by_doc.get(i, [])
        if not t.strip():
            assert rows == []  # empty docs chunk to nothing (S1 semantics)
            continue
        assert [r.chunk_index for r in rows] == list(range(1, len(rows) + 1))
        rebuilt = "".join(r.chunk[:stride] for r in rows[:-1]) + rows[-1].chunk
        assert rebuilt == t
        assert all(len(r.chunk) <= size for r in rows)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_salted_aggregate_equals_plain(spark, rows):
    from yaml_pipe_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "k long, v long, rid long",
    )
    salted = salted_aggregate(
        df,
        ["k"],
        {
            "n": (F.count("*"), F.sum),
            "s": (F.sum("v"), F.sum),
            "mx": (F.max("v"), F.max),
        },
        salt_col=F.col("rid"),
        n_salts=4,
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2**64 - 1), st.integers(0, 2**64 - 1)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_hamming_matches_popcount(spark, pairs):
    from yaml_pipe_spark.operators.dedup import hamming_distance

    df = spark.createDataFrame(
        [(format(a, "064b"), format(b, "064b")) for a, b in pairs],
        "fa string, fb string",
    )
    got = [
        r.h
        for r in df.select(
            hamming_distance(F.col("fa"), F.col("fb"), 64).alias("h")
        ).collect()
    ]
    want = [bin(a ^ b).count("1") for a, b in pairs]
    assert got == want


@given(texts=TEXTS)
@settings(**SETTINGS)
def test_jaccard_pairs_bounded_and_canonical(spark, texts):
    from yaml_pipe_spark.operators.dedup import (
        exact_jaccard_pairs,
        token_shingles,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = token_shingles(df, "text", "doc_id", k=2)
    rows = exact_jaccard_pairs(sh).collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.0 < r.jaccard <= 1.0


@given(texts=st.lists(st.text(max_size=100), min_size=1, max_size=10))
@settings(**SETTINGS)
def test_hash_embedding_shape_and_range(spark, texts):
    from yaml_pipe_spark.functions.hashing import hash_embedding

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    vecs = [
        r.e
        for r in df.select(hash_embedding(F.col("text"), 8).alias("e")).collect()
    ]
    for v in vecs:
        assert len(v) == 8
        assert all(-1.0 <= x <= 1.0 for x in v)
    # determinism: same text -> same vector
    again = [
        r.e
        for r in df.select(hash_embedding(F.col("text"), 8).alias("e")).collect()
    ]
    assert vecs == again


def test_entropy_bounds_and_rfm_partition(spark):
    """Structural invariants of the curation queries at sf0.001:
    - unigram entropy lies in [0, ln(vocab)] and n_tokens >= vocab;
    - RFM segments partition the user set exactly (sum n_users = |users|);
    - repetition fractions and contamination fractions lie in [0, 1]."""
    import math

    from tests.conftest import SF_SMALL
    from yaml_pipe_spark.entrypoints import REGISTRY
    from yaml_pipe_spark.tables import load_table

    ent = REGISTRY["text_entropy"].fn(spark, SF_SMALL).collect()
    assert ent
    for r in ent:
        assert r.vocab <= r.n_tokens
        # entropy is rounded to 4 decimals, so allow the rounding quantum
        assert -1e-9 <= r.entropy <= math.log(r.vocab) + 5e-5, r

    n_users = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id").distinct().count()
    )
    rfm = REGISTRY["events_rfm_segments"].fn(spark, SF_SMALL).collect()
    assert sum(r.n_users for r in rfm) == n_users
    assert len({r.segment for r in rfm}) == len(rfm)

    rep = REGISTRY["text_repetition"].fn(spark, SF_SMALL).collect()
    assert rep
    for r in rep:
        for f in (r.dup_bigram_frac, r.dup_trigram_frac, r.top_word_frac):
            if f is not None:
                assert 0.0 <= f <= 1.0, r

    dec = REGISTRY["text_decontaminate"].fn(spark, SF_SMALL).collect()
    assert dec
    for r in dec:
        assert 0 <= r.n_contaminated <= r.n_grams, r
        assert 0.0 <= r.contamination_frac <= 1.0, r


@given(texts=TEXTS)
@settings(**SETTINGS)
def test_parse_text_idempotent(spark, texts):
    """Element normalization is a projection onto its own image:
    parse(parse(x)) == parse(x), and the output never contains a blank line
    (elements are trimmed and joined with exactly one blank line)."""
    from yaml_pipe_spark.sources.parsers import parse_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    out = df.select(
        "id",
        parse_text(F.col("text")).alias("once"),
    ).select("id", "once", parse_text(F.col("once")).alias("twice"))
    for r in out.collect():
        assert r.once == r.twice
        for el in r.once.split("\n\n"):
            assert el == "" or el.strip() == el


@given(texts=TEXTS)
@settings(**SETTINGS)
def test_pii_redact_idempotent_and_clean(spark, texts):
    """Redaction is idempotent (placeholders don't re-match) and the
    redacted text never contains an email/IP match."""
    from yaml_pipe_spark.operators.curation import pii_redact

    salted = [t + " a@b.co 1.2.3.4" for t in texts]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(salted)], "id long, text string"
    )
    once = pii_redact(df, "text").select(
        "id", F.col("redacted").alias("text"), "n_emails", "n_ips"
    )
    twice = pii_redact(once, "text")
    for r in twice.collect():
        assert r.n_emails == 0 and r.n_ips == 0, r.redacted


ATTR_SEQS = st.lists(
    st.lists(st.sampled_from("ABC"), min_size=1, max_size=12),
    min_size=1,
    max_size=6,
)


@given(seqs=ATTR_SEQS)
@settings(**SETTINGS)
def test_scd2_history_invariants(spark, seqs):
    """For any per-key attribute sequence: one version per change-point run,
    intervals chain with no gaps/overlaps, exactly one open current version,
    and consecutive versions always differ in the attribute."""
    from datetime import datetime

    from yaml_pipe_spark.operators.state import scd2_history

    rows = []
    oid = 0
    for k, seq in enumerate(seqs):
        for i, attr in enumerate(seq):
            oid += 1
            rows.append((k, datetime(2024, 1, 1 + i), oid, attr))
    df = spark.createDataFrame(
        rows, "k int, ts timestamp, oid int, attr string"
    )
    hist = scd2_history(df, "k", "ts", "attr", "oid").collect()

    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    assert set(by_key) == set(range(len(seqs)))
    for k, seq in enumerate(seqs):
        runs = [seq[0]]
        for a in seq[1:]:
            if a != runs[-1]:
                runs.append(a)
        vs = sorted(by_key[k], key=lambda r: r.version)
        assert [r.attr for r in vs] == runs
        assert [r.version for r in vs] == list(range(1, len(runs) + 1))
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from
            assert a.attr != b.attr
        assert vs[-1].valid_to is None
        assert [r.is_current for r in vs] == [False] * (len(vs) - 1) + [True]


@given(texts=TEXTS)
@settings(**SETTINGS)
def test_bpe_tokens_partition_the_text(spark, texts):
    """The GPT-2-style pre-tokenizer regex must PARTITION the input: the
    concatenation of all matched tokens reconstructs the text exactly
    (no character is dropped or double-counted by the alternation)."""
    from yaml_pipe_spark.entrypoints.text import _BPE_PAT

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text",
        F.concat_ws(
            "", F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))
        ).alias("rejoined"),
    ).collect()
    for r in rows:
        assert r.rejoined == r.text


SPLIT_EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=1, max_value=100),
    ),
    min_size=1,
    max_size=40,
)


@given(
    events=SPLIT_EVENTS,
    cut=st.integers(min_value=0, max_value=9),
    cut2=st.integers(min_value=0, max_value=9),
)
@settings(**SETTINGS)
def test_merge_aggregates_equals_direct_agg(spark, events, cut, cut2):
    """For ANY split points: merge(merge(a, b), c) == agg(all) — the output
    of merge_aggregates is itself a valid `prior` for the next run (it stays
    unrounded), which is the iterated daily-pipeline contract."""
    from yaml_pipe_spark.operators.state import merge_aggregates

    lo, hi = sorted((cut, cut2))
    df = spark.createDataFrame(events, "k string, day int, value long")

    def partial(d):
        return d.groupBy("k", "day").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").cast("double").alias("sum_value"),
        )

    once = merge_aggregates(
        partial(df.filter(F.col("day") < lo)),
        partial(df.filter((F.col("day") >= lo) & (F.col("day") < hi))),
        ["k", "day"],
    )
    twice = merge_aggregates(  # feed the merge output back as prior
        once, partial(df.filter(F.col("day") >= hi)), ["k", "day"]
    )
    direct = partial(df)
    got = {(r.k, r.day): (r.n_events, r.sum_value) for r in twice.collect()}
    want = {(r.k, r.day): (r.n_events, r.sum_value) for r in direct.collect()}
    assert got == want


@given(st.binary(min_size=0, max_size=2000))
@settings(max_examples=200, deadline=None)
def test_pdf_extractor_total_on_arbitrary_bytes(data):
    """extract_pdf_text is TOTAL: any byte string (malformed xref, truncated
    streams, garbage escapes) returns a str, never raises — a parser fed by
    a crawl must not take down the executor on byte soup."""
    from yaml_pipe_spark.sources.pdf import extract_pdf_text

    out = extract_pdf_text(data)
    assert isinstance(out, str)


@given(st.binary(min_size=0, max_size=500))
@settings(max_examples=100, deadline=None)
def test_pdf_extractor_total_on_streamlike_bytes(data):
    """Same totality with the bytes wrapped so the stream/BT scanners
    actually engage (the hostile region is INSIDE content streams)."""
    from yaml_pipe_spark.sources.pdf import extract_pdf_text

    wrapped = b"<< /Length 9 >>\nstream\nBT " + data + b" ET\nendstream"
    out = extract_pdf_text(wrapped)
    assert isinstance(out, str)


@given(
    ntoks=st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                   max_size=30),
    ctx=st.integers(min_value=2, max_value=16),
)
@settings(**SETTINGS)
def test_pack_windows_conservation(spark, ntoks, ctx):
    """Packing conserves tokens and docs: per-window n_tokens sums to the
    corpus total (each token lands in exactly one window), every window
    except possibly the last is exactly full, and n_docs_starting sums to
    the number of non-empty docs."""
    from yaml_pipe_spark.operators.sampling import pack_windows

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(ntoks)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.window_id, r.n_docs, r.n_docs_starting, r.n_tokens)
        for r in pack_windows(docs, ctx=ctx, shard_size=7).collect()
    )
    total = sum(ntoks)
    nonempty = sum(1 for n in ntoks if n > 0)
    if total == 0:
        assert out == []
        return
    assert sum(w[3] for w in out) == total
    assert sum(w[2] for w in out) == nonempty
    assert [w[0] for w in out] == list(range(len(out)))  # contiguous ids
    assert all(w[3] == ctx for w in out[:-1])  # all but last exactly full
    assert 0 < out[-1][3] <= ctx


@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_containment_bounds_and_dominates_jaccard(spark, texts):
    """For every pair: 0 < cont_a, cont_b <= 1, jaccard <= min(cont_a,
    cont_b), and cont_a == inter/|A| recomputed from the shingle sets."""
    from yaml_pipe_spark.operators.dedup import (
        containment_pairs,
        exact_jaccard_pairs,
        token_shingles,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = token_shingles(df, k=3)
    cont = {
        (r.id_a, r.id_b): (r.cont_a, r.cont_b)
        for r in containment_pairs(sh, df_max_frac=None).collect()
    }
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in exact_jaccard_pairs(sh, df_max_frac=None).collect()
    }
    assert set(cont) == set(jac)
    for pair, (ca, cb) in cont.items():
        assert 0 < ca <= 1 and 0 < cb <= 1
        assert jac[pair] <= min(ca, cb) + 1e-9


WORD_TEXTS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        min_size=1,
        max_size=40,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=WORD_TEXTS)
@settings(**SETTINGS)
def test_segment_dedup_conservation_and_symmetry(spark, texts):
    """Token conservation: kept tokens + tokens inside dup segments equal
    the doc's token count; segment counts tile the doc (ceil(n/4) with
    seg_words=4); and dup-ness is symmetric — a segment text flagged dup
    in one doc is flagged in EVERY doc containing it (same grid slot or
    not, as long as the block text matches)."""
    from yaml_pipe_spark.operators.dedup import (
        segment_exact_dedup,
        segment_marked,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in segment_exact_dedup(df, seg_words=4).collect()}
    for i, t in enumerate(texts):
        n_tok = len(t.split(" "))
        r = out[i]
        assert r.n_segments == -(-n_tok // 4)
        dup_tokens = n_tok - r.n_kept_tokens
        assert 0 <= r.n_dup_segments <= r.n_segments
        assert dup_tokens >= r.n_dup_segments  # every dup seg has >=1 token
    marked = segment_marked(df, seg_words=4).collect()
    flag_by_text: dict[str, set] = {}
    for m in marked:
        flag_by_text.setdefault(m.seg, set()).add(m.dup)
    assert all(len(flags) == 1 for flags in flag_by_text.values())


@given(texts=TEXTS)
@settings(**SETTINGS)
def test_winnow_matches_python_reference_on_random_text(spark, texts):
    """Winnowing equals the pure-Python reference on arbitrary whitespace
    structure (empty docs, runs of separators, newlines), and every
    fingerprint list is the windowed minimum sequence of the doc's k-gram
    hashes — the randomized twin of the fixed-corpus tests in
    tests/test_round8_ops.py."""
    import hashlib

    from yaml_pipe_spark.operators.text_stats import winnow_fingerprints

    k = w = 3

    def py_winnow(text):
        toks = [t for t in text.split() if t]
        hs = [
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
            for i in range(len(toks) - k + 1)
        ]
        return [min(hs[i : i + w]) for i in range(len(hs) - w + 1)]

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["fps"]
        for r in winnow_fingerprints(df, "text", "doc_id", k=k, w=w).collect()
    }
    for i, t in rows:
        want = py_winnow(t)
        if want:
            assert got[i] == want, (i, t)
        else:
            assert i not in got, (i, t)  # short docs opt out entirely
