"""Canonicalizer spec + idempotence + totality (SURVEY §5.3-5.4)."""

import string

from hypothesis import example, given, settings, strategies as st

from commentsearchengine_spark.functions.urlnorm import (
    canonicalize,
    fast_canonical_parts,
    host_of,
    path_of,
)

CASES = [
    # lowercase scheme + host
    ("HTTPS://Example.COM/A/b", "https://example.com/A/b"),
    # strip fragment
    ("https://x.io/p#frag", "https://x.io/p"),
    # strip default ports
    ("https://x.io:443/p", "https://x.io/p"),
    ("http://x.io:80/p", "http://x.io/p"),
    ("https://x.io:8443/p", "https://x.io:8443/p"),
    # dot-segment resolution
    ("https://x.io/a/./b/../c", "https://x.io/a/c"),
    ("https://x.io/../a", "https://x.io/a"),
    # percent-decoding of unreserved, uppercasing of kept escapes
    ("https://x.io/%41%2fb", "https://x.io/A%2Fb"),
    ("https://x.io/a%7Eb", "https://x.io/a~b"),
    # tracking param removal + param sort + empty-query drop
    ("https://x.io/p?utm_source=a&b=2&a=1", "https://x.io/p?a=1&b=2"),
    ("https://x.io/p?utm_campaign=z", "https://x.io/p"),
    ("https://x.io/p?gclid=123&x=1", "https://x.io/p?x=1"),
    # empty path
    ("https://x.io", "https://x.io/"),
    ("https://x.io?b=1&a=2", "https://x.io/?a=2&b=1"),
]


def test_spec_cases():
    for raw, want in CASES:
        assert canonicalize(raw) == want, raw


def test_idempotent_on_cases():
    for raw, _ in CASES:
        c = canonicalize(raw)
        assert canonicalize(c) == c


@given(st.text(alphabet=string.printable, max_size=120))
@example("%-1")  # int("-1", 16) parses; a sign is not a hex digit
@example("% f")
@settings(max_examples=300, deadline=None)
def test_total_and_idempotent(s):
    c = canonicalize(s)  # never raises
    assert canonicalize(c) == c
    host_of(c)
    path_of(c)


@given(st.text(alphabet=string.printable, max_size=120))
@settings(max_examples=300, deadline=None)
def test_fast_path_is_identity_only(s):
    """fast_canonical_parts claims canonical ONLY when the full
    canonicalizer is provably the identity, and its parts agree with
    host_of/path_of — on arbitrary printable strings."""
    for u in (s, "https://" + s, "http://x.io/" + s):
        fast = fast_canonical_parts(u)
        if fast is not None:
            assert canonicalize(u) == u, u
            assert fast == (host_of(u), path_of(u)), u


def test_fast_path_hits_canonical_urls():
    assert fast_canonical_parts("https://x.io/a/b/") == ("x.io", "/a/b/")
    # every transform-needing case must fall back to the full path
    for raw, want in CASES:
        if raw != want:
            assert fast_canonical_parts(raw) is None, raw


def test_host_and_path():
    u = canonicalize("https://User@Site.Org:443/a/b?q=1#f")
    assert host_of(u) == "site.org"
    assert path_of(u) == "/a/b?q=1"
