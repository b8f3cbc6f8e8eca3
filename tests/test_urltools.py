"""URL canonicalization: values are driver-attested (`url_canonicalize`
— two independent implementations value-hashed). These pin the golden
cases per spec arm, idempotence, the dedup-collapse property the
operator exists for, and the zero-shuffle plan."""

from pyspark.sql import functions as F

from keras_ocr_spark.operators.urltools import canonicalize_url, url_host

GOLDEN = [
    # (raw, canonical) — one per spec arm.
    ("HTTP://WWW.Site.COM:80/a/?b=2&utm_source=feed&a=1#frag",
     "http://www.site.com/a?a=1&b=2"),
    ("http://www.site.com/a?a=1&b=2", "http://www.site.com/a?a=1&b=2"),
    ("HTTPS://Host.org:443/", "https://host.org"),
    ("https://host.org", "https://host.org"),
    ("http://h.io:8080/X/Y/?utm_campaign=x", "http://h.io:8080/X/Y"),
    ("ftp://files.example.net/pub/", "ftp://files.example.net/pub"),
    ("http://h/?fbclid=abc&z=9&ref=tw", "http://h?z=9"),
    ("not a url", None),
    ("/relative/path?a=1", None),
]


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]


class TestCanonicalizeUrl:
    def test_golden_cases(self, spark):
        got = _canon(spark, [u for u, _ in GOLDEN])
        assert got == [c for _, c in GOLDEN]

    def test_idempotent(self, spark):
        once = [c for c in _canon(spark, [u for u, _ in GOLDEN]) if c is not None]
        assert _canon(spark, once) == once

    def test_collapses_url_variants_for_dedup(self, spark):
        # The operator's purpose: all spellings of one page -> one key.
        variants = [
            "HTTP://WWW.Site.COM:80/a/?b=2&utm_source=feed&a=1#frag",
            "http://www.site.com:80/a?b=2&a=1",
            "http://WWW.SITE.com/a/?a=1&b=2&gclid=xyz",
        ]
        df = spark.createDataFrame([(u,) for u in variants], "url string")
        n = df.select(canonicalize_url(F.col("url")).alias("c")).distinct().count()
        assert n == 1

    def test_url_host(self, spark):
        df = spark.createDataFrame(
            [("HTTPS://A.B.C:8443/x",), ("nope",)], "url string"
        )
        got = [r.h for r in df.select(url_host(F.col("url")).alias("h")).collect()]
        assert got == ["a.b.c", None]

    def test_zero_shuffle_projection(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = df.select(
            canonicalize_url(F.concat(F.lit("http://h/"), F.col("doc_id").cast("string")))
            .alias("c")
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _py_canon(url: str):
    """Independent Python reference of the module spec (re module —
    third implementation alongside Spark Columns and the DuckDB
    oracle)."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", url)
    if not m:
        return None
    scheme = m.group(1).lower()
    m2 = re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", url)
    authority = (m2.group(1) if m2 else "").lower()
    mh = re.match(r"^([^:]*)", authority)
    host = mh.group(1)
    mp = re.search(r":([0-9]+)$", authority)
    port = mp.group(1) if mp else ""
    default = (scheme == "http" and port == "80") or (scheme == "https" and port == "443") or port == ""
    netloc = host if default else f"{host}:{port}"
    mpath = re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", url)
    path = re.sub(r"/$", "", mpath.group(1) if mpath else "")
    mq = re.search(r"\?([^#]*)", url)
    query = mq.group(1) if mq else ""
    parts = [p for p in query.split("&")
             if p != "" and not p.split("=")[0].startswith("utm_")
             and p.split("=")[0] not in ("fbclid", "gclid", "msclkid", "ref")]
    cq = "&".join(sorted(parts))
    return f"{scheme}://{netloc}{path}" + (f"?{cq}" if cq else "")


class TestSeededFuzz:
    def test_300_component_combinations_match_python_reference(self, spark):
        import random

        rng = random.Random(42)
        schemes = ["http", "HTTP", "https", "HTTPS", "ftp", "Custom-1"]
        hosts = ["Example.COM", "a.b.c.D", "localhost", "x--y.io"]
        ports = ["", ":80", ":443", ":8080", ":1"]
        paths = ["", "/", "/A/b", "/A/b/", "/%7Euser", "/a//b/"]
        queries = ["", "?", "?a=1", "?b=2&a=1", "?utm_source=x", "?a=1&utm_a=2&fbclid=9",
                   "?ref=t&z", "?a&b=", "?a=1&a=0"]
        frags = ["", "#f", "#a=1&b=2"]
        urls = []
        for _ in range(300):
            urls.append(
                rng.choice(schemes) + "://" + rng.choice(hosts) + rng.choice(ports)
                + rng.choice(paths) + rng.choice(queries) + rng.choice(frags)
            )
        got = _canon(spark, urls)
        want = [_py_canon(u) for u in urls]
        assert got == want
