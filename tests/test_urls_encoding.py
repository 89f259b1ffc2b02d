"""URL canonicalization and encoding-anomaly scrub unit tests."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from yaml_pipe_spark.functions.urls import canonicalize_url
from yaml_pipe_spark.operators.quality import (
    MOJIBAKE_MAP,
    encoding_anomaly_scrub,
)


def _canon(spark, url):
    return (
        spark.createDataFrame([(url,)], "u string")
        .select(canonicalize_url(F.col("u")).alias("c"))
        .collect()[0]["c"]
    )


def test_canonicalize_url_rules(spark):
    cases = {
        # www + mixed case + port + fragment + trailing slash
        "https://WWW.Site.Example.com:443/a/b/#frag":
            "https://site.example.com/a/b",
        # tracking params dropped, survivors sorted
        "https://site.example.com/p?utm_source=x&b=2&a=1&fbclid=z":
            "https://site.example.com/p?a=1&b=2",
        # all params tracking -> no '?'
        "https://site.example.com/p?utm_campaign=x&gclid=1&ref=home":
            "https://site.example.com/p",
        # scheme lowercased, root path kept bare
        "HTTPS://site.example.com/":
            "https://site.example.com",
        # www only stripped as a PREFIX label
        "https://wwwx.example.com/p":
            "https://wwwx.example.com/p",
    }
    for raw, want in cases.items():
        assert _canon(spark, raw) == want, raw


def test_encoding_scrub_counts_and_repair(spark):
    rows = [
        (1, "clean ascii text"),
        (2, "cafÃ© and cafÃ© twice"),          # 2x mojibake é
        (3, "donâ€™t"),                     # cp1252 ’ mojibake
        (4, "lost�bytes�here"),                     # 2x U+FFFD
        (5, "price 100"),                      # NBSP
        (6, "bell\x07and\x1fcontrols"),             # 2x C0 controls
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in encoding_anomaly_scrub(df).collect()}
    assert 1 not in out  # clean docs are not flagged
    assert out[2]["n_mojibake"] == 2
    assert out[3]["n_mojibake"] == 1
    assert out[4]["n_replacement"] == 2
    assert out[5]["n_nbsp"] == 1
    assert out[6]["n_control"] == 2
    # the repair itself: hash must equal sha256 of the hand-fixed text
    assert (
        out[2]["cleaned_hash"]
        == hashlib.sha256("café and café twice".encode()).hexdigest()
    )
    assert (
        out[3]["cleaned_hash"]
        == hashlib.sha256("don’t".encode()).hexdigest()
    )
    assert (
        out[4]["cleaned_hash"]
        == hashlib.sha256("lostbyteshere".encode()).hexdigest()
    )
    assert (
        out[5]["cleaned_hash"]
        == hashlib.sha256("price 100".encode()).hexdigest()
    )
    assert (
        out[6]["cleaned_hash"]
        == hashlib.sha256("bellandcontrols".encode()).hexdigest()
    )


def test_mojibake_map_is_true_double_encoding():
    """Every map entry must be the EXACT cp1252/latin-1 misdecode of its
    repaired form — the map is a fact about encodings, not a guess."""
    for bad, good in MOJIBAKE_MAP:
        assert good.encode("utf-8").decode("cp1252", errors="strict") == bad


def test_udtf_blank_skip_matches_non_empty_semantics(spark):
    """The registered UDTF's blank-skip must be functions.text.non_empty
    exactly: ASCII-whitespace-only docs are skipped, but an NBSP-only doc
    is NOT blank (Python .strip() would wrongly skip it)."""
    from yaml_pipe_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "\n\t \r"), (2, " "), (3, "ok")], "doc_id long, text string"
    ).createOrReplaceTempView("__udtf_blank_probe")
    rows = spark.sql(
        """
        SELECT d.doc_id, c.chunk
        FROM __udtf_blank_probe d,
        LATERAL fixed_window_chunks(d.text, 8, 2) c
        """
    ).collect()
    got = {r["doc_id"] for r in rows}
    assert got == {2, 3}


def test_spread_probe_classifies_both_directions(spark, tmp_path):
    """The split estimate must (a) fire for small single-split parquet,
    (b) NOT fire for a frame whose estimated splits already cover half
    the parallelism, and (c) leave file-less frames alone."""
    from yaml_pipe_spark.session import _size_bytes, spread_for_expansion

    assert _size_bytes("128MB") == 128 << 20
    assert _size_bytes("4m") == 4 << 20
    assert _size_bytes("134217728") == 134217728

    small = str(tmp_path / "small")
    spark.range(100).coalesce(1).write.parquet(small)
    df = spark.read.parquet(small)
    # tiny single file -> est 1 split -> rescue fires
    assert spread_for_expansion(df) is not df
    # a frame with no file lineage is untouched
    mem = spark.createDataFrame([(1,)], "x int")
    assert spread_for_expansion(mem) is mem
    # shrink maxPartitionBytes so the same file estimates as many splits
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        spark.conf.set("spark.sql.files.openCostInBytes", "64")
        assert spread_for_expansion(df) is df  # est splits >> parallelism/2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)


def test_canonicalize_url_is_idempotent_over_the_synthetic_space(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) for every raw form
    the registered query derives — canonical outputs must be fixed points
    (a second pass through a normalizing proxy must not change them)."""
    from yaml_pipe_spark.entrypoints.corpus import _URL_EXPR

    urls = (
        spark.range(0, 500)
        .selectExpr("id AS doc_id")
        .selectExpr(f"{_URL_EXPR} AS url")
    )
    once = urls.select(canonicalize_url(F.col("url")).alias("c1"))
    twice = once.select(
        "c1", canonicalize_url(F.col("c1")).alias("c2")
    )
    assert twice.filter(F.col("c1") != F.col("c2")).count() == 0


def test_encoding_scrub_is_idempotent(spark):
    """Scrubbing already-scrubbed text must flag nothing: the repaired
    corpus is a fixed point of the repair."""
    from yaml_pipe_spark.operators.quality import encoding_anomaly_scrub

    rows = [
        (1, "cafÃ© and donâ€™t and lost�bytes"),
        (2, "price 100 with bell\x07"),
        (3, "Ã¤rger twice Ã¤"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cleaned = encoding_anomaly_scrub(df, include_text=True).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    assert cleaned.count() == 3  # all three were flagged
    again = encoding_anomaly_scrub(cleaned)
    assert again.count() == 0


def test_canonicalize_url_passes_malformed_through(spark):
    """Scheme-less / unparseable URLs must survive as their raw spelling,
    not collapse into one NULL canonical key (which countDistinct would
    then ignore, inflating dup rates on real crawl input). ADVICE r6."""
    rows = [
        ("no-scheme.example.com/a",),
        ("not a url at all",),
        ("https://ok.example.com/a/",),
    ]
    df = spark.createDataFrame(rows, "url string")
    out = df.select(
        "url", canonicalize_url(F.col("url")).alias("c")
    ).collect()
    got = {r["url"]: r["c"] for r in out}
    assert got["no-scheme.example.com/a"] == "no-scheme.example.com/a"
    assert got["not a url at all"] == "not a url at all"
    assert got["https://ok.example.com/a/"] == "https://ok.example.com/a"


def test_spread_probe_decodes_percent_encoded_paths(spark, tmp_path):
    """inputFiles() percent-encodes URIs; a local dir with a space must
    still classify as local and take the rescue repartition. ADVICE r6."""
    from yaml_pipe_spark.session import spread_for_expansion

    small = str(tmp_path / "with space")
    spark.range(100).coalesce(1).write.parquet(small)
    df = spark.read.parquet(small)
    assert any("%20" in f for f in df.inputFiles()), "precondition"
    assert spread_for_expansion(df) is not df


def test_spread_probe_never_touches_local_fs_for_remote_uris(
    spark, tmp_path, monkeypatch
):
    """A non-file scheme must early-return even when the URI's PATH
    component happens to exist locally — probing it would size the split
    estimate with an unrelated local file (round-7 review finding)."""
    from yaml_pipe_spark.session import spread_for_expansion

    local = str(tmp_path / "decoy")
    spark.range(100).coalesce(1).write.parquet(local)
    df = spark.read.parquet(local)
    part = df.inputFiles()[0].removeprefix("file:")
    assert __import__("os").path.isfile(part)
    # same path, remote scheme: must be left alone (no repartition)
    monkeypatch.setattr(df, "inputFiles", lambda: [f"s3a://bucket{part}"])
    assert spread_for_expansion(df) is df


def test_spread_probe_schemeless_literal_percent_path(spark, tmp_path, monkeypatch):
    """A SCHEME-LESS inputFiles entry is already a raw local path: a file
    whose literal name contains a %-sequence must not be percent-decoded
    into the wrong path (which would fail the isfile probe and silently
    skip the rescue repartition). ADVICE r7."""
    import os

    from yaml_pipe_spark.session import spread_for_expansion

    small = str(tmp_path / "x%20y")
    spark.range(100).coalesce(1).write.parquet(small)
    df = spark.read.parquet(small)
    raw = [f.removeprefix("file:").replace("%2520", "%20") for f in df.inputFiles()]
    assert all(os.path.isfile(p) for p in raw), "precondition"
    assert any("%20" in p for p in raw), "precondition"
    monkeypatch.setattr(df, "inputFiles", lambda: raw)
    assert spread_for_expansion(df) is not df
