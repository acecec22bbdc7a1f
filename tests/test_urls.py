"""Unit tests: URL validity (exact reference regex vectors), RFC-3986
canonicalization, priority ladder (CrawlerManager.java:215 incl. the 0.1
floor), portable hashing."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from distributed_webcrawler_spark.functions.urls import (
    VALID_URL_REGEX,
    _canon_one,
    child_priority,
    is_valid_url,
)

VALID = [
    "https://example.com",
    "http://example.com/",
    "https://sub.host-1.example.co/p/1?q=2",
    "https://example.com/path#frag",  # fragment inside path part is accepted
]
INVALID = [
    None,
    "",
    "   ",
    "ftp://example.com/x",
    "https://example.com:8080/x",     # port rejected (charset excludes ':')
    "http://localhost/x",             # no dot+TLD
    "https://127.0.0.1/x",            # numeric TLD rejected ([a-zA-Z]{2,})
    "https://user:pw@example.com/x",  # userinfo rejected
    "example.com/no-scheme",
]


def test_validity_regex_python_vectors():
    rx = re.compile(VALID_URL_REGEX)
    for u in VALID:
        assert rx.match(u), u
    for u in INVALID:
        assert u is None or not u.strip() or not rx.match(u), u


def test_validity_spark_matches_python(spark):
    urls = [u for u in VALID + INVALID if u is not None]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url for r in df.where(is_valid_url(F.col("url"))).collect()}
    rx = re.compile(VALID_URL_REGEX)
    want = {u for u in urls if u.strip() and rx.match(u)}
    assert got == want


@pytest.mark.parametrize("raw,full,compat", [
    ("HTTPS://Host.Example.COM:443/a/../b?q=1#f",
     "https://host.example.com/b?q=1", "https://host.example.com/b?q=1#f"),
    ("http://h.example.com:80/x", "http://h.example.com/x", "http://h.example.com/x"),
    ("http://h.example.com:8080/x#f", "http://h.example.com:8080/x",
     "http://h.example.com:8080/x#f"),
    ("https://h.example.com/a/./b//c", "https://h.example.com/a/b//c",
     "https://h.example.com/a/b//c"),
])
def test_canonicalize(raw, full, compat):
    assert _canon_one(raw, keep_fragment=False) == full
    assert _canon_one(raw, keep_fragment=True) == compat


def test_priority_ladder(spark):
    df = spark.range(0, 15).select(
        F.col("id").alias("depth"), child_priority(F.col("id")).alias("p"))
    rows = {r.depth: r.p for r in df.collect()}
    assert rows[0] == 1.0
    assert abs(rows[1] - 0.9) < 1e-12
    assert rows[9] == pytest.approx(0.1)
    for d in range(9, 15):
        assert rows[d] == pytest.approx(0.1)  # the 0.1 floor


_HOSTS = ["a.com", "b-x.org", "C.com", "sub.d.net", "a.com:8080", "a.com:80"]
_PATHS = ["", "/", "/p", "/p/q", "/p/q/", "/p?x=/y", "/p#f/g", "/p?x=1",
          "/p/./q", "/p/../q", "//dbl/x", "/p%20q", "/p;m=1", "/p;", "/p;/q"]
_HREFS = ["x", "x/y", "/r", "/r/s", "http://e.com/z", "HTTP://e.com/z",
          "x?q=1", "?q=2", "#f", "../up", "./same", "x/..", "mailto:z@e.com",
          "//proto.rel/p", "x.y", ".hidden", "http://e.com//dbl", "/r?a=b",
          "x#frag", "", None, "  x  ", "http://E.com/z", "http://e.com:80/z",
          "http://e.com:8080/z", "p/q#a/b", "x;p=1",
          # empty-params quirk: CPython strips a trailing ';' ('x;'->'x')
          "x;", "/x;", "./x;", "http://a.com/x;", "x;/y", ";", "a;b/c;",
          "https://s.io/a?b=c&d=e", "/..", "/.", "x/", "a//b",
          "ftp://f.com/x", "javascript:void(0)", "%2e%2e/x"]
# whitespace and control characters: Python strips or deletes them, Java's
# \s and $ see them differently (U+0085, U+00A0, U+2000-U+200A, U+3000)
_WS_HREFS = ["x\t", "\tx", "\x85x", "x\x85", "\xa0/r", "/r\xa0", "x\u2000", "\u2009/r",
             "\u200ax", "\u3000x", "x\u3000", "x\u2028", "\x00x", "x\x1f", "\x7fx",
             "ht\ttp://e.com/z", "http://e.com/\nz", "http://e.\rcom/z", "\nhttp://e.com/z",
             "/r\n", "x\r\n", "\x0bx", "\x0cx", " /r", "\ufeffx"]
# explicit ports: leading zeros name the default port, huge ones must not be cast
_PORT_HREFS = ["http://e.com:0080/z", "http://e.com:00080/z", "https://e.com:0443/z",
               "https://e.com:443/z", "https://e.com:80/z", "http://e.com:443/z",
               "http://e.com:0/z", "http://e.com:000/z", "http://e.com:65536/z",
               "http://e.com:99999999999999999999/z", "//e.com:8080/z", "//e.com:80/z",
               "//e.com:443/z", "//e.com:0443/z", "http://u:p@e.com:8080/z",
               "http://u:p@e.com:80/z", "http://u@e.com/z", "http://e.com:/z",
               "http://e.com:8o/z", "http://e.com:+80/z", "http://e.com:80:90/z",
               "http://[::1]:80/z", "http://[::1]:8080/z", "HTTPS://e.com:443/z",
               "http://e.com:8080", "http://e.com:8080#f", "http://e.com:8080?q",
               "http://e.com:\u0668\u0660/z"]
# schemes: only http(s) can pass is_valid_url; 'http:x' resolves against the base
_SCHEME_HREFS = ["data:text/html,x", "tel:+123", "git+ssh://e.com/x", "Mailto:z@e.com",
                 "HTTP://e.com/z", "http:x", "https:x", "http:/x", "https:///x",
                 "x:y", "a.b:c", "1x:y", "-x:y", "x-y:z/w", "a/b:c", "?a:b", "#a:b",
                 "HtTpS://e.com/z", "httpx://e.com/z", "javascript:alert(1)"]
_UNICODE_HREFS = ["\u00e9/x", "/\u00e9", "x\U0001f600", "http://e.com/\u00e9"]


def _fuzz_pairs(n: int, seed: int, extra: bool):
    import random

    rng = random.Random(seed)
    hrefs = _HREFS + (_WS_HREFS + _PORT_HREFS + _SCHEME_HREFS + _UNICODE_HREFS if extra else [])
    rows_b, rows_h = [], []
    for _ in range(n):
        scheme = "https" if extra and rng.random() < 0.3 else "http"
        b = f"{scheme}://{rng.choice(_HOSTS)}{rng.choice(_PATHS)}"
        if rng.random() < 0.02:
            b = None
        rows_b.append(b)
        rows_h.append(rng.choice(hrefs))
    return rows_b, rows_h


def test_resolve_fast_path_matches_exact_slow_path(spark):
    """The native tiers (native_resolve) must be byte-identical to the
    exact per-row resolve+canonicalize on every (base, href) they take —
    adversarial fuzz over bases with ports / dot segments / query-with-
    slash / fragments / '//' runs and every href shape, then over a corpus
    that adds whitespace/control, port and scheme cases."""
    from distributed_webcrawler_spark.functions.urls import _resolve_one, native_resolve

    url, _ = native_resolve("base", "href")
    for extra in (False, True):
        rows_b, rows_h = _fuzz_pairs(8000, 1234, extra)
        df = spark.createDataFrame(list(zip(rows_b, rows_h)), "base string, href string")
        got = [r.url for r in df.select(url.alias("url")).collect()]
        taken = 0
        for b, h, f in zip(rows_b, rows_h, got):
            if f is not None:
                taken += 1
                assert f == _resolve_one(b, h, False), (b, h, f)
        assert taken > 300


def test_host_suffixes(spark):
    from distributed_webcrawler_spark.functions.urls import host_suffixes

    df = spark.createDataFrame(
        [("a.b.example.com",), ("example.com",), ("localhost",)], "h string")
    got = [r.s for r in df.select(host_suffixes("h").alias("s")).collect()]
    assert got[0] == ["a.b.example.com", "b.example.com", "example.com", "com"]
    assert got[1] == ["example.com", "com"]
    assert got[2] == ["localhost"]


def test_native_tiers_match_exact_path(spark):
    """native_resolve's tiers equal _resolve_one on every row they take,
    and no native reject drops a link that _resolve_one plus is_valid_url
    would keep; rows with whitespace or control characters never take a
    native branch. resolve_links (native part + UDF residue) keeps exactly
    the valid links of the exact path. One fuzz frame, one collect."""
    from distributed_webcrawler_spark.functions.urls import (
        _resolve_one,
        native_resolve,
        resolve_links,
    )

    rows_b, rows_h = _fuzz_pairs(6000, 4321, extra=True)
    want = [_resolve_one(b, h, False) for b, h in zip(rows_b, rows_h)]
    df = spark.createDataFrame(
        [(i, b, h, w) for i, (b, h, w) in enumerate(zip(rows_b, rows_h, want))],
        "i int, base string, href string, want string")
    url, reject = native_resolve("base", "href")
    got = df.select("i", url.alias("url"), reject.alias("reject"),
                    is_valid_url(F.col("want")).alias("keep")).collect()
    ws = re.compile(r"[\s\x00-\x1f\x7f-\xa0\u2000-\u200f\u3000\ufeff]")
    n_native = n_reject = 0
    for r in got:
        b, h = rows_b[r.i], rows_h[r.i]
        if r.url is not None:
            n_native += 1
            assert r.url == want[r.i], (b, h, r.url, want[r.i])
        if r.reject:
            n_reject += 1
            assert not r.keep, (b, h, want[r.i])
            assert r.url is None
        if h is not None and b is not None and ws.search(h):
            assert r.url is None and not r.reject, (b, h)
    # every branch is exercised (the corpus is adversarial: most rows are residue)
    assert n_native > 150 and n_reject > 500 and len(got) - n_native - n_reject > 1000

    out = resolve_links(df, "base", "href", "child", reference_compat=False)
    kept = {(r.i, r.child) for r in out.where(is_valid_url(F.col("child"))).collect()}
    assert kept == {(r.i, want[r.i]) for r in got if r.keep}
