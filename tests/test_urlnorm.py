"""RFC 3986 URL normalization: canonical vectors, idempotence fuzz."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from weblog_pipeline.urlnorm import normalize_url, normalize_urls

VECTORS = [
    ("HTTPS://Site.Example.COM:443/a/../b", "https://site.example.com/b"),
    ("http://h:80/x", "http://h/x"),
    ("http://h:8080/x", "http://h:8080/x"),
    ("https://h", "https://h/"),
    ("https://h/a/./b/../c", "https://h/a/c"),
    ("https://h/%41%2F%7e", "https://h/A%2F~"),
    ("https://h/p?b=2&a=1&a=0", "https://h/p?a=0&a=1&b=2"),
    ("https://h/p?x=", "https://h/p?x="),
    ("https://h/p#frag", "https://h/p"),
    ("https://h/a/..", "https://h/"),
    ("https://h/%3a", "https://h/%3A"),
    ("  https://h/x  ", "https://h/x"),
    # %2E is an unreserved '.', so encoded dot segments must resolve
    ("https://h/a/%2E%2E/b", "https://h/b"),
    ("https://h/a/%2e/b", "https://h/a/b"),
]


def test_canonical_vectors():
    for raw, want in VECTORS:
        assert normalize_url(raw) == want, raw


UNPARSEABLE = ("", "notaurl", "ftp://h/x", "https://", "http://h:bad/x",
               "http://[::1", "://x")


def test_unparseable_quarantined_not_raised():
    for bad in UNPARSEABLE:
        assert normalize_url(bad) is None, bad


def test_normalize_urls_through_spark_matches_normalize_url(spark):
    """The Spark stage keeps each input url beside normalize_url of it;
    a NULL url stays NULL."""
    urls = [raw for raw, _ in VECTORS] + list(UNPARSEABLE) + [None]
    df = spark.createDataFrame([(u, i) for i, u in enumerate(urls)], "link string, i int")
    got = [tuple(r) for r in normalize_urls(df, "link").collect()]
    assert sorted(got, key=repr) == sorted(
        [(u, None if u is None else normalize_url(u)) for u in urls], key=repr
    )


@settings(max_examples=300, deadline=None)
@given(st.text(string.printable, max_size=80))
def test_total_and_idempotent(s):
    n = normalize_url(s)
    if n is not None:
        assert normalize_url(n) == n  # canonical forms are fixed points
