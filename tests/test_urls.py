"""URL feature extraction + blocklist filtering (operators/urls.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.urls import url_blocklist_filter, url_features


def _urls(spark, urls):
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id long, url string"
    )


class TestUrlFeatures:
    def test_feature_extraction(self, spark):
        df = _urls(spark, [
            "https://docs.example.com/a/b/c?x=1&y=2",
            "http://EXAMPLE.co.uk/",
            "https://single",
            "http://ads.tracker.net:8080/p?q=#frag",
        ])
        rows = {r["id"]: r for r in url_features(df).collect()}
        r0 = rows[0]
        assert (r0["host"], r0["domain"]) == ("docs.example.com", "example.com")
        assert (r0["path_depth"], r0["n_params"], r0["is_https"]) == (3, 2, True)
        r1 = rows[1]
        # public second-level suffix: registrable domain keeps 3 labels
        assert (r1["host"], r1["domain"]) == ("example.co.uk", "example.co.uk")
        assert (r1["path_depth"], r1["n_params"], r1["is_https"]) == (0, 0, False)
        r2 = rows[2]
        assert (r2["host"], r2["domain"], r2["path_depth"]) == ("single", "single", 0)
        r3 = rows[3]
        # port stripped from host; fragment excluded from query
        assert (r3["host"], r3["domain"]) == ("ads.tracker.net", "tracker.net")
        assert (r3["path_depth"], r3["n_params"]) == (1, 1)


class TestBlocklistFilter:
    def _bl(self, spark, domains):
        return spark.createDataFrame([(d,) for d in domains], "domain string")

    def test_suffix_semantics(self, spark):
        df = _urls(spark, [
            "https://tracker.net/a",            # exact domain hit
            "https://ads.tracker.net/b",        # subdomain hit
            "https://deep.x.ads.tracker.net/c",  # deep subdomain hit
            "https://nottracker.net/d",          # NOT a suffix match
            "https://tracker.net.evil.org/e",    # prefix, not suffix: keep
            "https://good.org/f",
        ])
        bl = self._bl(spark, ["tracker.net"])
        kept = sorted(
            r["id"] for r in url_blocklist_filter(df, bl).collect()
        )
        assert kept == [3, 4, 5]

    def test_exact_host_entry_and_case(self, spark):
        df = _urls(spark, [
            "https://spam.example.com/x",
            "https://SPAM.Example.COM/y",
            "https://sub.spam.example.com/z",
            "https://example.com/w",  # parent of the entry: keep
        ])
        bl = self._bl(spark, ["Spam.Example.Com"])
        kept = sorted(
            r["id"] for r in url_blocklist_filter(df, bl).collect()
        )
        assert kept == [3]

    def test_plan_is_broadcast_only(self, spark):
        df = _urls(spark, ["https://a.example.com/x"])
        bl = self._bl(spark, ["blocked.org"])
        plan = (
            url_blocklist_filter(df, bl)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_empty_blocklist_keeps_all(self, spark):
        df = _urls(spark, ["https://a.com/x", "https://b.org/y"])
        bl = self._bl(spark, []).filter(F.lit(False))
        assert url_blocklist_filter(df, bl).count() == 2


def test_fuzz_parity_url_regexes_spark_vs_duckdb(spark):
    """Seeded random URL-ish strings through the SAME host/path/query
    regexes in Spark and DuckDB (the oracle's construction) — guards
    the Java-vs-RE2 seam the same way the HTML fuzz does."""
    import random

    import duckdb

    rng = random.Random(0xBEEF)
    atoms = [
        "https://", "http://", "ftp://", "x-2.proto://", "://", "//",
        "example.com", "a.b.c.d.e.f", "host", "co.uk", ":8080", ":x",
        "/", "/path", "/a/b/c", "//", "?", "?a=1", "&b=2", "&", "=",
        "#frag", "#", "..", ".", "UPPER.Case", "123", "", "host:",
    ]
    rows = [
        (i, "".join(rng.choice(atoms) for _ in range(rng.randint(0, 8))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    feats = url_features(df).select(
        "id", "host", "domain", "path_depth", "n_params", "is_https"
    )
    got = {r["id"]: tuple(r)[1:] for r in feats.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE u(id BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?, ?)", rows)
    # mirror of the url_filter oracle's feature construction
    want = {}
    for rid, host, path, q, url in con.execute("""
        SELECT id,
               lower(regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host,
               COALESCE(regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '')
                 AS path,
               COALESCE(regexp_extract(url, '\\?([^#]*)', 1), '') AS q,
               url
        FROM u
    """).fetchall():
        labels = [p for p in host.split(".")] if host else [""]
        if len(labels) <= 2:
            domain = host
        else:
            last2 = ".".join(labels[-2:])
            psl = {"co.uk", "org.uk", "ac.uk", "gov.uk", "com.au",
                   "net.au", "org.au", "co.jp", "ne.jp", "or.jp",
                   "com.br", "com.cn", "com.mx", "co.in", "co.kr",
                   "com.tw", "com.sg", "co.za"}
            domain = ".".join(labels[-3:]) if last2 in psl else last2
        depth = len([s for s in path.split("/") if s != ""])
        n_params = 0 if q == "" else len(q.split("&"))
        want[rid] = (host, domain, depth, n_params,
                     url.lower().startswith("https://"))
    mism = {k for k in got if got[k] != want[k]}
    assert not mism, {k: (rows[k][1], got[k], want[k]) for k in list(mism)[:3]}


class TestCanonicalUrl:
    CASES = [
        # (raw, canonical)
        ("HTTP://Example.COM:80/a/", "http://example.com/a"),
        ("http://example.com/a?utm_source=feed", "http://example.com/a"),
        ("https://example.com:443/a?b=2&a=1#frag", "https://example.com/a?a=1&b=2"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),  # non-default port kept
        ("http://example.com", "http://example.com/"),  # empty path → /
        ("http://example.com/A", "http://example.com/A"),  # path case preserved
        ("http://example.com/a?fbclid=x&gclid=y&keep=1", "http://example.com/a?keep=1"),
        ("http://example.com/a///", "http://example.com/a"),
        ("http://example.com/?ref=hn", "http://example.com/"),
    ]

    def test_hand_cases(self, spark):
        from logpipe_spark.operators.urls import canonical_url

        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _) in enumerate(self.CASES)], "i long, url string"
        )
        got = {
            r["i"]: r["c"]
            for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()
        }
        for i, (_, want) in enumerate(self.CASES):
            assert got[i] == want, (self.CASES[i][0], got[i], want)

    def test_url_dedup_groups(self, spark):
        from logpipe_spark.operators.urls import url_dedup

        rows = [
            (0, "HTTP://A.com:80/x/?utm_a=1"),
            (1, "http://a.com/x"),
            (2, "http://a.com/x?b=1"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = {r["url_canon"]: (r["n_dups"], r["keep_id"]) for r in url_dedup(df).collect()}
        assert out == {
            "http://a.com/x": (2, 0),
            "http://a.com/x?b=1": (1, 2),
        }


def test_fuzz_parity_canonical_url_spark_vs_duckdb(spark):
    """Seeded random URL-ish strings through Spark canonical_url vs the
    DuckDB canonicalization chain (the url_dedup oracle's construction,
    COALESCE'd so no-match extracts behave like Spark's '') — guards the
    Java-vs-RE2 seam of the new op on garbage as well as well-formed
    input."""
    import random

    import duckdb

    from logpipe_spark.operators.urls import canonical_url

    rng = random.Random(0xCAFE)
    atoms = [
        "https://", "HTTP://", "http://", "x-2.proto://", "://",
        "Example.COM", "WWW.example.com", "a.b.c.d", "host", ":80",
        ":443", ":8080", ":x", "/", "/Path", "/a/b/", "//", "///",
        "?", "?a=1", "?utm_source=x", "&utm_medium=y", "&b=2", "&a=1",
        "&fbclid=z", "&ref=hn", "&", "=", "#frag", "#", "", "host:",
    ]
    rows = [
        (i, "".join(rng.choice(atoms) for _ in range(rng.randint(0, 8))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {
        r["id"]: r["c"]
        for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE u(id BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?, ?)", rows)
    want = dict(con.execute(r"""
        WITH parts AS (
          SELECT id,
            COALESCE(lower(regexp_extract(url,
              '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)), '') AS scheme,
            COALESCE(lower(regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)), '') AS host,
            COALESCE(regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]+:(\d+)', 1), '') AS port,
            COALESCE(regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '') AS rawpath,
            COALESCE(regexp_extract(url, '\?([^#]*)', 1), '') AS q
          FROM u
        )
        SELECT id,
          scheme || '://' || host ||
          (CASE WHEN port = ''
                  OR (scheme = 'http' AND port = '80')
                  OR (scheme = 'https' AND port = '443')
                THEN '' ELSE ':' || port END) ||
          (CASE WHEN regexp_replace(rawpath, '/+$', '') = ''
                THEN '/' ELSE regexp_replace(rawpath, '/+$', '') END) ||
          (CASE WHEN qc = '' THEN '' ELSE '?' || qc END)
        FROM (
          SELECT *, COALESCE(array_to_string(list_sort(list_filter(
                   string_split(q, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_')
                        AND NOT (string_split(p, '=')[1] IN
                          ('fbclid','gclid','msclkid','ref')))), '&'), '') AS qc
          FROM parts
        )
    """).fetchall())
    assert got == want


def test_url_dedup_plan_single_aggregate_exchange(spark):
    """Canonicalization is map-only; the ONLY shuffle is the hash
    aggregation on the canonical string (with a map-side partial)."""
    from logpipe_spark.operators.urls import url_dedup

    docs = spark.createDataFrame(
        [(i, f"https://h{i % 3}.com/p?a=1") for i in range(100)],
        "doc_id long, url string",
    )
    plan = url_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan  # map-side combine before the shuffle
