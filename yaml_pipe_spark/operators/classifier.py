"""Token-level quality-classifier distillation.

North-star extension (absent in the reference, which stops at chunk/embed —
SURVEY §2.9): the CCNet/fastText pattern (Wenzek et al. 2020; Joulin et al.
2017) of distilling an expensive or rule-based quality label into a cheap
linear text classifier that can score the whole crawl. The teacher here is
the Gopher rule conjunction (operators/quality.py); the student is a
multinomial Naive Bayes over whitespace tokens — which IS a linear
classifier over token counts (per-token weight = the class log-likelihood
ratio), i.e. exactly fastText's model shape with NB's closed-form training
instead of SGD, so both training and inference are plain DataFrame
aggregates with a DuckDB oracle.

Design decisions (shared verbatim by the oracle — change both together):
- Train/test split by hash: byte0(md5(doc_id)) < 0.8*256 trains, the rest
  tests (the engine's standard holdout, operators/sampling.py:33).
- Laplace alpha=1 on token likelihoods AND class priors, so an absent
  class can never produce log10(0).
- Tokens unseen in the train vocabulary are DROPPED at scoring time (the
  classic NB convention); an all-OOV test doc falls back to the prior
  margin.
- Per-token weight w(t) = round(loglik(t|pass) - loglik(t|fail), 6) and
  the prior margin are rounded BEFORE the per-doc sum, and the summed
  margin is rounded to 6dp before the sign test, so the pass/fail verdict
  never hinges on float summation order across engines (same contract as
  corpus_ccnet_buckets' tercile rounding).

Scale shape (100 TB): training is the token-count diamond the corpus
already pays for tf-idf — one (doc, token) shuffle, then vocabulary-sized
aggregates; the fitted model is a V x 1 weight table (+3 scalars) that
BROADCASTS to the scoring join, so inference is one narrow pass + one
per-doc rollup. No iteration, no driver-side math beyond the scalar
constants.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from yaml_pipe_spark.functions.text import tokens


def nb_quality_distill(
    docs: DataFrame,
    labels: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "gopher_pass",
    train_rate: float = 0.8,
    weight_decimals: int = 6,
) -> DataFrame:
    """Train multinomial NB on the hash-train split, score the held-out
    split, return the test confusion matrix.

    `labels` is (id, label in {0,1}) — e.g. gopher_quality_signals output.
    Returns one row per (label, pred) cell:
    (gopher_label BIGINT, pred BIGINT, n_docs BIGINT, share DOUBLE) where
    share is the cell's fraction of its true-label row (the per-class
    recall diagonal) — the same report shape as text_lang_confusion.
    """
    from yaml_pipe_spark.operators.sampling import hash_sample_flag

    if labels is None:
        # label column rides on docs (one-pass gopher signals via
        # keep_cols): skip the corpus-sized labels join — guide §2.4
        base = docs.select(
            id_col, text_col, F.col(label_col).cast("int").alias("__y")
        )
    else:
        lab = labels.select(
            F.col(id_col), F.col(label_col).cast("int").alias("__y")
        )
        base = docs.select(id_col, text_col).join(lab, id_col)
    base = base.withColumn(
        "__train",
        hash_sample_flag(F.col(id_col), F.lit(train_rate)).cast("int"),
    )
    tf = base.select(
        id_col, "__y", "__train", F.explode(tokens(F.col(text_col))).alias("tok")
    ).groupBy(id_col, "__y", "__train", "tok").agg(
        F.count("*").alias("tf")
    )
    # the (doc, token, tf) feature frame feeds four consumers (train
    # counts, train doc counts, test scoring, test doc roster) and every
    # model-constant subtree below re-references it multiplicatively —
    # materialize it once (it is the tokenized feature table a production
    # pipeline persists anyway) so the corpus is scanned exactly once
    tf = tf.localCheckpoint()
    train = tf.filter(F.col("__train") == 1)

    # class-conditional token counts over the FULL train vocab grid
    # (missing (tok, class) cells count 0 via the left join + coalesce)
    # — vocab-sized; checkpointed so the scalar/grid math re-aggregates a
    # model-sized frame, not the feature frame
    ct = train.groupBy("tok", "__y").agg(F.sum("tf").alias("c"))
    ct = ct.localCheckpoint()
    vocab = ct.select("tok").distinct()
    classes = docs.sparkSession.createDataFrame(
        [(0,), (1,)], "__y int"
    )
    grid = vocab.crossJoin(F.broadcast(classes)).join(
        ct, ["tok", "__y"], "left"
    ).select("tok", "__y", F.coalesce("c", F.lit(0)).alias("c"))

    # scalars: per-class token totals, vocab size, per-class doc counts —
    # tiny frames, combined into a single broadcastable constants row
    tot = grid.groupBy("__y").agg(F.sum("c").alias("tot"))
    v = vocab.agg(F.count("*").alias("v"))
    nd = train.select(id_col, "__y").distinct().groupBy("__y").agg(
        F.count("*").alias("nd")
    )
    consts = (
        tot.join(nd, "__y")
        .groupBy()
        .agg(
            # coalesce(0): a class absent from the train split must reach
            # the Laplace +1 terms as zero, not null out the whole model
            F.coalesce(
                F.sum(F.when(F.col("__y") == 1, F.col("tot"))), F.lit(0)
            ).alias("tot1"),
            F.coalesce(
                F.sum(F.when(F.col("__y") == 0, F.col("tot"))), F.lit(0)
            ).alias("tot0"),
            F.coalesce(
                F.sum(F.when(F.col("__y") == 1, F.col("nd"))), F.lit(0)
            ).alias("nd1"),
            F.coalesce(
                F.sum(F.when(F.col("__y") == 0, F.col("nd"))), F.lit(0)
            ).alias("nd0"),
        )
        .crossJoin(v)
    )

    # per-token linear weight: loglik ratio with Laplace alpha=1, rounded
    # before the scoring sum (cross-engine determinism contract)
    wts = (
        grid.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("__y") == 1, F.col("c"))).alias("c1"),
            F.sum(F.when(F.col("__y") == 0, F.col("c"))).alias("c0"),
        )
        .crossJoin(F.broadcast(consts))
        .select(
            "tok",
            F.round(
                F.log10((F.col("c1") + 1) / (F.col("tot1") + F.col("v")))
                - F.log10((F.col("c0") + 1) / (F.col("tot0") + F.col("v"))),
                weight_decimals,
            ).alias("w"),
        )
    )
    prior = consts.select(
        F.round(
            F.log10((F.col("nd1") + 1).cast("double"))
            - F.log10((F.col("nd0") + 1).cast("double")),
            weight_decimals,
        ).alias("pw")
    )

    test = tf.filter(F.col("__train") == 0)
    scored = (
        test.join(F.broadcast(wts), "tok")
        .groupBy(id_col, "__y")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("s"))
    )
    # left join keeps all-OOV test docs (score 0 -> prior decides)
    margins = (
        test.select(id_col, "__y")
        .distinct()
        .join(scored, [id_col, "__y"], "left")
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            "__y",
            F.round(
                F.coalesce(F.col("s"), F.lit(0.0)) + F.col("pw"),
                weight_decimals,
            ).alias("margin"),
        )
    )
    pred = margins.select(
        F.col("__y").cast("long").alias("gopher_label"),
        (F.col("margin") >= 0).cast("long").alias("pred"),
    )
    agg = pred.groupBy("gopher_label", "pred").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("gopher_label")
    return agg.select(
        "gopher_label",
        "pred",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 4
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# Gradient-descent-trained linear classifier (VERDICT r11 ask #6): the NB
# student above is closed-form counting; this is the fastText-style TRAINED
# variant — hashed unigram features, a weight vector learned by unrolled
# gradient rounds — expressed so a SQL oracle replays the entire training
# trajectory. Everything after feature extraction is fixed-point integer
# arithmetic: weights live in 1e-6 micro-units, the probability is a
# hard-sigmoid (clamp(1/2 + s/4) — the piecewise-linear sigmoid used when
# transcendental exp would break cross-engine bit-parity), and every
# division is an explicit toward-zero integer quotient (sign * (abs DIV d))
# so Spark's truncating DIV and DuckDB's flooring // can never disagree.
# ---------------------------------------------------------------------------

class SharedConfOverride:
    """One session conf key held at a value while any caller is inside
    `held`. The first caller in saves the key's value and sets the
    override; the last one out restores the saved value. A save and
    restore per caller would let two overlapping callers clobber each
    other: the second would save the first's override, and restore it
    after the first had already restored the original."""

    def __init__(self, key: str, value: str):
        self.key = key
        self.value = value
        self._lock = threading.Lock()
        self._holders = 0
        self._saved = None

    @contextmanager
    def held(self, conf):
        with self._lock:
            if self._holders == 0:
                self._saved = conf.get(self.key)
                conf.set(self.key, self.value)
            self._holders += 1
        try:
            yield
        finally:
            with self._lock:
                self._holders -= 1
                if self._holders == 0:
                    conf.set(self.key, self._saved)


# The logreg rounds run with AQE off (see logreg_quality_distill). The
# setting is session-wide, so a query running beside a trainer also runs
# without AQE; that costs it adaptivity, not correctness.
_AQE_OFF = SharedConfOverride("spark.sql.adaptive.enabled", "false")

LOGREG_BUCKETS = 64
LOGREG_ROUNDS = 12
# round-i (1-based) step divisor = ETA_DEN * 2^(i-1) * n_train — the halving
# schedule is what converges: a constant step keeps the saturated hard-
# sigmoid in a bang-bang all-positive/all-negative oscillation (measured on
# sf0.01: constant eta never beats accuracy 0.52; halving reaches 0.88)
LOGREG_ETA_DEN = 1024


def _tz_div(num, den):
    """Integer quotient toward zero — Spark DIV truncates, DuckDB //
    floors; routing both through sign * (abs DIV den) makes them equal.

    Uses Spark's integral `div` (IntegralDivide on BIGINT) rather than
    float `/` + floor: double division is exact only below 2^53, and at
    corpus scale the gradient numerators (n_train * 1e9 micro-units)
    exceed that, which would silently break the bit-parity contract with
    DuckDB's exact BIGINT quotient (ADVICE r12)."""
    a = F.abs(num).cast("long")
    d = (den if isinstance(den, Column) else F.lit(den)).cast("long")
    q = F.call_function("div", a, d)
    return F.when(num >= 0, q).otherwise(-q).cast("long")


def _doc_margin(wmap: Column) -> Column:
    """Margin s = <f, w> over a packed per-doc feature vector `fv`
    (array<struct<b,f>>): a per-row integer array fold — the zero-shuffle
    replacement for the long-format window sum. Exact: the identical
    products, integer-summed (order-free)."""
    return F.aggregate(
        F.col("fv"),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e["f"] * F.element_at(wmap, e["b"]),
    )


def _residual(s: Column, y: Column) -> Column:
    """Hard-sigmoid residual r = clamp(5e5 + s/4, 0, 1e6) - 1e6*y in
    exact integer micro-units (toward-zero quotient)."""
    return (
        F.least(
            F.greatest(
                F.lit(500000).cast("long") + _tz_div(s, F.lit(4)),
                F.lit(0).cast("long"),
            ),
            F.lit(1000000).cast("long"),
        )
        - F.lit(1000000) * y
    )


def _round_gradient_frame(train_v: DataFrame, wmap: Column) -> DataFrame:
    """One training round's per-bucket gradient frame over the packed
    per-doc vectors: (b, g) with g = sum over misclassified docs of
    f_b * r. Plan shape (pinned in tests/test_r14_opts.py): a scan of the
    checkpointed doc vectors, a per-row margin fold, the r != 0 cut (the
    perceptron property — correctly-classified saturated docs contribute
    nothing, so the combine input shrinks as training converges), one
    explode, and an n_buckets-row partial+final aggregate. The doc-keyed
    Exchange + Sort the window formulation paid per round is gone."""
    scored = train_v.withColumn(
        "s", _doc_margin(wmap).cast("long")
    ).withColumn("r", _residual(F.col("s"), F.col("__y"))).filter(
        F.col("r") != 0
    )
    return (
        scored.select("r", F.explode("fv").alias("e"))
        .groupBy(F.col("e.b").alias("b"))
        .agg(F.sum(F.col("e.f") * F.col("r")).cast("long").alias("g"))
    )


def logreg_quality_distill(
    docs: DataFrame,
    labels: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "gopher_pass",
    train_rate: float = 0.8,
    n_buckets: int = LOGREG_BUCKETS,
    rounds: int = LOGREG_ROUNDS,
) -> DataFrame:
    """Train a hashed-feature linear classifier by `rounds` unrolled
    gradient steps on the hash-train split; report the held-out confusion
    and floor-quantized precision/recall/f1 (the quality_score_calibration
    report shape).

    Model: f(doc) = PER-MILLE token shares over `n_buckets` hash buckets
    (byte0(md5(tok)) % n_buckets, share = (count*1000) DIV n_tokens — the
    fastText mean-of-features normalization, in integers), plus a bias
    feature (bucket -1, value 1000) and a clamped-length feature (bucket
    -2, value min(n_tokens, 1000) — the Gopher teacher is length-gated, so
    the student gets length as a first-class input). Margin s = <f, w>
    with w in integer micro-units; hard-sigmoid probability
    p = clamp(500000 + s/4, 0, 1e6); residual r = p - 1e6*y; per-bucket
    gradient g_b = sum_train f_b * r; update w_b -= g_b /
    (ETA_DEN * 2^(round-1) * n_train) — the halving schedule that takes
    the saturated regime from bang-bang oscillation to convergence.
    Correctly-classified saturated docs contribute r = 0 — updates come
    from mistakes only, the perceptron property that makes unrolled
    rounds meaningful.

    Scale shape (100 TB): the feature frame is the same (doc, token)
    diamond NB pays for, collapsed to (doc, bucket) — at most n_buckets+2
    rows per doc, tokenized ONCE (the (doc,bucket) counts materialize
    first; token totals and the per-doc frame derive from the counts,
    not from re-scanning the token stream) — then PACKED to one
    array<struct<b,f>> row per doc before the loop (r14). The MODEL
    lives on the driver — n_buckets+2 integers, the same k-bounded
    contract as the k-means centroid matrix — embedded into each round's
    plan as a literal map, so a round is ONE job with ZERO data-sized
    shuffle: the margin is a per-row integer fold over the packed
    vector (the r12/r13 window formulation re-shuffled every feature
    row by doc id each round; the r13 pre-clustered-cache attempt
    measured slower than the shuffle it saved — packing removes the
    exchange without the columnar-decode tax), correctly-classified
    saturated docs drop out (r = 0 contributes nothing, so the gradient
    combine input SHRINKS as training converges), and the n_buckets-row
    gradient collects for an exact toward-zero integer update in Python
    (abs // den matches _tz_div bit-for-bit). Rounds scale the constant,
    not the exponent; no driver-side corpus data ever."""
    from yaml_pipe_spark.functions.hashing import hex_pair_to_int
    from yaml_pipe_spark.functions.text import tokens
    from yaml_pipe_spark.operators.sampling import hash_sample_flag

    if labels is None:
        # docs already carries the label column (e.g. the gopher signals
        # computed in the SAME pass via keep_cols): no join — at corpus
        # scale the labels-back-onto-docs join is a second full scan plus
        # a corpus-sized exchange for rows that came out of one pass
        base = docs.select(
            id_col, text_col, F.col(label_col).cast("long").alias("__y")
        )
    else:
        lab = labels.select(
            F.col(id_col), F.col(label_col).cast("long").alias("__y")
        )
        base = docs.select(id_col, text_col).join(lab, id_col)
    base = base.withColumn(
        "__train",
        hash_sample_flag(F.col(id_col), F.lit(train_rate)).cast("int"),
    )
    buck = base.select(
        id_col, "__y", "__train",
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select(
        id_col, "__y", "__train",
        (hex_pair_to_int(F.md5(F.col("tok")), 1) % n_buckets)
        .cast("long")
        .alias("b"),
    )
    # Pack each doc's features into ONE array row and materialize THAT
    # (r14, guide §2.4 "remove shuffles outright"). The r12/r13 shape
    # materialized a long (doc, bucket, f) frame and forced every
    # training round through a doc-keyed Exchange + Sort (window) just
    # to sum 66 products per doc; the r13 pre-clustered-cache attempt
    # measured slower than the shuffle it saved. Packing makes a round's
    # margin a per-ROW integer array fold — zero exchange on the
    # 100 TB-side data; the only shuffle left per round is the
    # n_buckets-row gradient combine. The packing itself is ONE linear
    # plan: (doc, bucket) counts, then a doc-level rollup whose token
    # total and bias/length features are per-row expressions — the
    # previous counts-checkpoint + ntok join + per-doc distinct + length
    # join + 3-way union collapse into two chained aggregates. Margin
    # equivalence is exact: identical integer products, order-free sum;
    # per-mille share (cnt*1000) DIV nt has both operands positive, so
    # DIV == floor, unchanged.
    counts = buck.groupBy(id_col, "__y", "__train", "b").agg(
        F.count("*").cast("long").alias("cnt")
    )
    docagg = counts.groupBy(id_col, "__y", "__train").agg(
        F.collect_list(F.struct("b", "cnt")).alias("cv"),
        F.sum("cnt").cast("long").alias("nt"),
    )
    fv = F.concat(
        F.transform(
            F.col("cv"),
            lambda e: F.struct(
                e["b"].alias("b"),
                F.call_function("div", e["cnt"] * 1000, F.col("nt"))
                .cast("long")
                .alias("f"),
            ),
        ),
        F.array(
            F.struct(
                F.lit(-1).cast("long").alias("b"),
                F.lit(1000).cast("long").alias("f"),
            ),
            F.struct(
                F.lit(-2).cast("long").alias("b"),
                F.least(F.col("nt"), F.lit(1000)).cast("long").alias("f"),
            ),
        ),
    )
    docvecs = docagg.select(
        id_col, "__y", "__train", fv.alias("fv")
    ).localCheckpoint()
    train = docvecs.filter(F.col("__train") == 1)

    # one row per doc by construction — the distinct is gone
    ntr = max(int(train.count()), 1)
    # the model's key set is known in closed form — b is a nonnegative
    # mod n_buckets plus the two reserved features — so discovering it
    # with a distinct+collect job would buy nothing: a superset key map
    # is lookup-equivalent (element_at never misses on feature rows, and
    # buckets no document hashes into receive no gradient rows, so their
    # weights stay 0 and are never looked up)
    bucket_ids = [-2, -1, *range(n_buckets)]
    w: dict[int, int] = {b: 0 for b in bucket_ids}

    def _tz_int(num: int, den: int) -> int:
        # Python twin of _tz_div: toward-zero integer quotient
        q = abs(num) // den
        return q if num >= 0 else -q

    def _wmap():
        # the model as a literal map<long,long> — every feature bucket
        # is a key by construction, so lookups never miss. Built as ONE
        # parsed SQL expression: the F.create_map(F.lit...) form issued
        # ~270 py4j round-trips per round (132 lit+cast Column objects),
        # ~3.5 s of pure driver-side plan construction across 12 rounds
        # at any data scale; one expr string is one round-trip and
        # parses to the identical literal map.
        return F.expr(
            "map(" + ", ".join(
                f"{b}L, {int(w[b])}L" for b in bucket_ids
            ) + ")"
        )

    # AQE off for the training loop only (restored after): a round's job
    # is a checkpoint scan + per-row fold + ONE exchange of n_buckets
    # partial rows — bounded by the model size at every corpus scale, so
    # adaptive stage-by-stage scheduling has nothing to adapt and costs
    # one extra scheduling barrier per round. The corpus-sized frames
    # (tokenize diamond, scoring) run before/after under session AQE.
    spark = docs.sparkSession
    with _AQE_OFF.held(spark.conf):
        for rnd in range(rounds):
            grads = _round_gradient_frame(train, _wmap()).collect()
            den = LOGREG_ETA_DEN * (2 ** rnd) * ntr
            moved = False
            for row in grads:
                step = _tz_int(int(row["g"]), den)
                if step:
                    w[int(row["b"])] -= step
                    moved = True
            # provable early stop: if every step this round quantized to
            # 0, the weights are unchanged, so the next round recomputes
            # the IDENTICAL gradients against a denominator that has
            # doubled — |g| < den implies |g| < 2*den, so every remaining
            # round is a no-op by induction and the final weights are
            # bit-identical to running the full schedule. Pure latency
            # trim, zero semantics.
            if not moved:
                break

    # held-out scoring over the same packed vectors: one row per doc
    # already, so the per-doc margin needs no groupBy exchange either
    test = docvecs.filter(F.col("__train") == 0)
    sts = test.select(
        F.col(id_col),
        F.col("__y"),
        _doc_margin(_wmap()).cast("long").alias("s"),
    )
    cm = sts.agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(((F.col("s") >= 0) & (F.col("__y") == 1)).cast("long"))
        .cast("long")
        .alias("tp"),
        F.sum(((F.col("s") >= 0) & (F.col("__y") == 0)).cast("long"))
        .cast("long")
        .alias("fp"),
        F.sum(((F.col("s") < 0) & (F.col("__y") == 1)).cast("long"))
        .cast("long")
        .alias("fn"),
        F.sum(((F.col("s") < 0) & (F.col("__y") == 0)).cast("long"))
        .cast("long")
        .alias("tn"),
    )
    # integer ratios floor-quantized to the 1e-4 grid (the
    # quality_score_calibration recipe): no float tie can split engines
    p4 = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.floor(F.col("tp").cast("double") * 10000 / (F.col("tp") + F.col("fp")))
    )
    r4 = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        F.floor(F.col("tp").cast("double") * 10000 / (F.col("tp") + F.col("fn")))
    )
    out = cm.select(
        F.lit(ntr).cast("long").alias("n_train"),
        "n_test", "tp", "fp", "fn", "tn",
        p4.alias("__p4"),
        r4.alias("__r4"),
    )
    return out.select(
        "n_train", "n_test", "tp", "fp", "fn", "tn",
        (F.col("__p4") / 10000).alias("precision_q4"),
        (F.col("__r4") / 10000).alias("recall_q4"),
        F.when(F.col("__p4") + F.col("__r4") == 0, F.lit(0.0))
        .otherwise(
            F.floor(
                2 * F.col("__p4") * F.col("__r4")
                / (F.col("__p4") + F.col("__r4"))
            )
            / 10000
        )
        .alias("f1_q4"),
    )
