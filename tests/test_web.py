"""Web-corpus hygiene operators (operators/web.py): edge cases beyond
the oracle queries' constructed inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_jl_spark.operators.web import (
    domain_stats,
    pii_counts,
    scrub_pii,
    url_canonical,
    url_host,
)


def _one(spark, s, col_fn):
    df = spark.createDataFrame([(s,)], ["v"])
    return df.select(col_fn(F.col("v")).alias("out")).first()["out"]


def test_url_canonical_cases(spark):
    cases = {
        # trailing slash stripped, scheme+host lowered, path case kept
        "HTTPS://Ex.ORG/Path/": "https://ex.org/Path",
        # bare host: '//' not treated as a strippable path slash
        "https://ex.org": "https://ex.org",
        # all-utm query vanishes entirely
        "https://ex.org/p?utm_a=1&utm_b=2": "https://ex.org/p",
        # first-of-many utm hands its '?' over
        "https://ex.org/p?utm_a=1&q=2&utm_b=3": "https://ex.org/p?q=2",
        # fragment dropped before anything else
        "https://ex.org/p?q=1#frag": "https://ex.org/p?q=1",
        # non-utm params preserved in order
        "https://ex.org/p?b=2&a=1": "https://ex.org/p?b=2&a=1",
    }
    for raw, want in cases.items():
        got = _one(spark, raw, url_canonical)
        assert got == want, (raw, got, want)


def test_url_host_cases(spark):
    assert _one(spark, "HTTP://WWW.Ex.org:8080/x", url_host) == \
        "www.ex.org:8080"
    assert _one(spark, "no-scheme/path", url_host) == ""


def test_scrub_pii_cases(spark):
    got = _one(
        spark,
        "mail a.b+c@d-e.org twice x@y.io, ip 192.168.0.1, "
        "call +47 22 33 44 55 but keep 2024 and 3.14",
        scrub_pii,
    )
    assert got == (
        "mail <EMAIL> twice <EMAIL>, ip <IP>, "
        "call <PHONE> but keep 2024 and 3.14"
    ), got


def test_pii_counts_cases(spark):
    r = _one(
        spark,
        "a@b.co c@d.io 10.0.0.1 +1 555 123 4567 year 1999",
        pii_counts,
    )
    assert (r["n_email"], r["n_ip"], r["n_phone"]) == (2, 1, 1), r


def test_domain_stats_single_shuffle(spark):
    from osm_jl_spark.plans.digest import digest

    pages = spark.createDataFrame(
        [("https://a.org/1", "xx"), ("https://a.org/2", "yyy"),
         ("https://b.org/1", "z")],
        ["url", "text"],
    )
    out = {r["host"]: (r["n_pages"], r["total_chars"])
           for r in domain_stats(pages).collect()}
    assert out == {"a.org": (2, 5), "b.org": (1, 1)}
    d = digest(domain_stats(pages))
    assert d.exchanges == 1, d.plan


def test_blocklist_filter_precedence(spark):
    from osm_jl_spark.operators.web import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "bad.org", "customer data here"),  # host AND keyword
            (2, "ok.org", "customer data here"),   # keyword only
            (3, "ok.org", "clean prose"),          # neither
            (4, "bad.org", "clean prose"),         # host only
        ],
        "doc_id BIGINT, host STRING, text STRING",
    )
    bl = spark.createDataFrame(
        [("bad.org", "badlist")], "host STRING, reason STRING"
    )
    out = blocklist_filter(
        docs, bl,
        keyword_rules=[
            ("kw", F.col("text").contains("customer")),
            ("kw2", F.col("text").contains("clean")),  # later rule loses
        ],
    )
    got = {r["doc_id"]: (r["block_reason"], r["keep"]) for r in out.collect()}
    assert got[1] == ("badlist", False)  # host block beats keyword
    assert got[2] == ("kw", False)
    assert got[3] == ("kw2", False)      # second rule fires when first miss
    assert got[4] == ("badlist", False)
    # input columns all survive
    assert set(out.columns) == {"doc_id", "host", "text",
                                "block_reason", "keep"}


def test_blocklist_duplicate_hosts_do_not_fan_out(spark):
    from osm_jl_spark.operators.web import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "bad.org", "t")], "doc_id BIGINT, host STRING, text STRING"
    )
    bl = spark.createDataFrame(
        [("bad.org", "zz_spam"), ("bad.org", "badlist")],
        "host STRING, reason STRING",
    )
    rows = blocklist_filter(docs, bl).collect()
    assert len(rows) == 1                      # row-preserving
    assert rows[0]["block_reason"] == "badlist"  # deterministic min


def test_domain_cap_equals_single_window_on_skew(spark):
    from pyspark.sql import Window

    from osm_jl_spark.operators.web import domain_cap

    # one hot host (80%) + tail, scattered over many input partitions
    rows = [(i, "hot.org" if i % 5 != 0 else f"h{i % 7}.org")
            for i in range(500)]
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, host STRING"
    ).repartition(16)
    got = {
        (r["doc_id"], r["host"], r["host_rank"])
        for r in domain_cap(docs, max_per_host=4).collect()
    }
    w = Window.partitionBy("host").orderBy("doc_id")
    want = {
        (r["doc_id"], r["host"], r["host_rank"])
        for r in docs.withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= 4)
        .collect()
    }
    assert got == want
    assert len({g for g in got if g[1] == "hot.org"}) == 4


def test_approx_domain_stats_error_bound(spark):
    from osm_jl_spark.operators.web import approx_domain_stats

    rows = [
        (i % 3, "h%d.org" % ((i * 7919) % (2500 + 500 * (i % 3))))
        for i in range(60000)
    ]
    docs = spark.createDataFrame(rows, "lang INT, host STRING")
    exact = {
        r["lang"]: r["x"]
        for r in docs.groupBy("lang")
        .agg(F.countDistinct("host").alias("x"))
        .collect()
    }
    for parts in (1, 16):
        got = approx_domain_stats(docs.repartition(parts)).collect()
        assert {r["lang"] for r in got} == set(exact)
        for r in got:
            assert r["n_docs"] == 20000
            rel = abs(r["distinct_hosts_est"] - exact[r["lang"]]) / exact[
                r["lang"]
            ]
            assert rel < 0.05, (parts, r["lang"], rel)


def test_blocklist_schema_checked(spark):
    from osm_jl_spark.operators.web import blocklist_filter
    import pytest

    docs = spark.createDataFrame(
        [(1, "bad.org", "x")], "doc_id BIGINT, host STRING, text STRING"
    )
    # missing reason column: fail fast with the expected schema named
    bare = spark.createDataFrame([("bad.org",)], "host STRING")
    with pytest.raises(ValueError, match="reason"):
        blocklist_filter(docs, bare)


def test_fetch_schedule_politeness(spark, monkeypatch):
    """Per-host serialization: slots 0..n-1 with no gaps, fetch_at
    spaced exactly delay apart, duplicate frontier entries collapse
    to their best priority, and the order is (priority, url)."""
    from pyspark.sql import Row

    from osm_jl_spark.operators import web as W
    from osm_jl_spark.operators.web import fetch_schedule

    frontier = spark.createDataFrame([
        Row(url="a.com/1", host="a.com", priority=5),
        Row(url="a.com/1", host="a.com", priority=2),  # dup: min wins
        Row(url="a.com/2", host="a.com", priority=2),  # tie -> url order
        Row(url="a.com/3", host="a.com", priority=1),
        Row(url="b.org/x", host="b.org", priority=9),
    ])
    monkeypatch.setattr(W, "FETCH_DELAY_SEC", 10)
    monkeypatch.setattr(W, "FETCH_START_EPOCH", 100)
    out = {r.url: r for r in fetch_schedule(frontier).collect()}
    assert len(out) == 4
    # a.com order: priority 1 first, then the pri-2 tie by url
    assert out["a.com/3"].slot == 0 and out["a.com/3"].fetch_at == 100
    assert out["a.com/1"].slot == 1 and out["a.com/1"].fetch_at == 110
    assert out["a.com/2"].slot == 2 and out["a.com/2"].fetch_at == 120
    # b.org schedules independently from slot 0
    assert out["b.org/x"].slot == 0 and out["b.org/x"].fetch_at == 100
