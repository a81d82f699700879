"""Pure URL canonicalizer (SURVEY.md §2.A op C1) — shared spec twin.

One pure function, used in BOTH the sequential oracle and the Spark engine
(inside an Arrow-batched pandas UDF, never a per-row Python UDF on the
Spark side — see operators/canonicalize.py).  Semantics fixed here:

1. lowercase scheme and host
2. strip the fragment
3. strip default ports (http:80, https:443)
4. resolve ``.`` / ``..`` path segments
5. percent-decode unreserved characters (ALPHA / DIGIT / ``-._~``);
   uppercase the hex of remaining escapes
6. drop tracking query params (``utm_*``, ``gclid``, ``fbclid``)
7. sort remaining query params by (key, value); drop empty query
8. empty path becomes ``/``

The function is total (never raises on str input) and idempotent:
``canonicalize(canonicalize(u)) == canonicalize(u)`` (property-tested).
"""

from __future__ import annotations

from urllib.parse import urlsplit, urlunsplit

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEXDIGITS = set("0123456789abcdefABCDEF")
_DEFAULT_PORTS = {"http": "80", "https": "443"}
_TRACKING_EXACT = {"gclid", "fbclid"}

# RFC 3986 pchar (+ '/') for paths; query keys/values additionally allow
# '/' and '?' but must keep '&' and '=' escaped (we re-join on them).
_PATH_SAFE = _UNRESERVED | set("!$&'()*+,;=:@/")
_QVAL_SAFE = _UNRESERVED | set("!$'()*+,;:@/?")


def _norm_pct(s: str, safe: set[str]) -> str:
    """Normalize percent-encoding: decode unreserved, uppercase kept escape
    hex, and percent-encode (UTF-8) any character outside ``safe``.  The
    output alphabet is safe-chars + canonical escapes → idempotent."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 3 <= n:
            hx = s[i + 1 : i + 3]
            if not (hx[0] in _HEXDIGITS and hx[1] in _HEXDIGITS):
                # int(hx, 16) would also take a sign, blank or '_'
                out.append("%25")  # stray '%' — escape it
                i += 1
                continue
            ch = chr(int(hx, 16))
            if ch in _UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + hx.upper())
            i += 3
        elif c in safe:
            out.append(c)
            i += 1
        else:
            out.extend(f"%{b:02X}" for b in c.encode("utf-8"))
            i += 1
    return "".join(out)


def _resolve_dots(path: str) -> str:
    segs = path.split("/")
    out: list[str] = []
    for seg in segs:
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # preserve a trailing slash implied by '.' / '..' final segments
    if segs and segs[-1] in (".", "..") and (not out or out[-1] != ""):
        out.append("")
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    return res


def canonicalize(url: str) -> str:
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url.strip()
    scheme = parts.scheme.lower()
    netloc = parts.netloc
    # split userinfo / host / port without validating
    userinfo = ""
    hostport = netloc
    if "@" in netloc:
        userinfo, hostport = netloc.rsplit("@", 1)
        userinfo += "@"
    host, port = hostport, ""
    if ":" in hostport and not hostport.endswith("]"):
        maybe_host, maybe_port = hostport.rsplit(":", 1)
        if maybe_port.isdigit() or maybe_port == "":
            host, port = maybe_host, maybe_port
    host = host.lower()
    if port and port.lstrip("0") == "":
        port = ""
    if port == _DEFAULT_PORTS.get(scheme, None) or port == "":
        netloc = userinfo + host
    else:
        netloc = userinfo + host + ":" + port

    path = _norm_pct(parts.path, _PATH_SAFE)
    path = _resolve_dots(path) if path else "/"

    query = ""
    if parts.query:
        pairs = []
        for item in parts.query.split("&"):
            if not item:
                continue
            k, _, v = item.partition("=")
            k = _norm_pct(k, _QVAL_SAFE)
            if k.lower().startswith("utm_") or k.lower() in _TRACKING_EXACT:
                continue
            pairs.append((k, _norm_pct(v, _QVAL_SAFE), "=" in item))
        pairs.sort(key=lambda p: (p[0], p[1]))
        query = "&".join(f"{k}={v}" if had_eq else k for k, v, had_eq in pairs)

    return urlunsplit((scheme, netloc, path, query, ""))


# ---- fast path: URLs that are ALREADY canonical by construction -------
#
# The fetch hot loop canonicalizes every outlink; in a real crawl (and in
# the synthetic link space) the majority are already in canonical form.
# This check is CONSERVATIVE: it returns parts only when every transform
# above is provably the identity — lowercase http(s) scheme, lowercase
# host with no port/userinfo, a '/'-rooted path whose characters are all
# kept verbatim by _norm_pct(_PATH_SAFE), no dot segments, no query, no
# fragment, no percent escapes, no whitespace.  Property-tested against
# the full canonicalizer (tests/test_urlnorm.py).

import re as _re

_FAST_HOST = _re.compile(r"[a-z0-9.-]+\Z")
# subset of _PATH_SAFE minus '@' (reserved for the userinfo check) and
# minus '%' (escapes), uppercase excluded entirely
_FAST_PATH = _re.compile(r"[a-z0-9._~/!$&'()*+,;=:-]*\Z")


def fast_canonical_parts(url: str) -> tuple[str, str] | None:
    """(host, path) when ``canonicalize(url) == url`` is guaranteed,
    else None (caller falls back to the full canonicalizer)."""
    if url.startswith("https://"):
        rest = url[8:]
    elif url.startswith("http://"):
        rest = url[7:]
    else:
        return None
    slash = rest.find("/")
    if slash <= 0:
        return None  # empty host, or empty path (needs the '/' rewrite)
    host, path = rest[:slash], rest[slash:]
    if (
        "%" in rest or "?" in rest or "#" in rest or "@" in rest
        or not _FAST_HOST.fullmatch(host)
        or not _FAST_PATH.fullmatch(path)
        or "/./" in path or "/../" in path
        or path.endswith("/.") or path.endswith("/..")
    ):
        return None
    return host, path


def host_of(canon_url: str) -> str:
    """Host (no port) of an already-canonical URL; '' when absent."""
    try:
        netloc = urlsplit(canon_url).netloc
    except ValueError:
        return ""
    if "@" in netloc:
        netloc = netloc.rsplit("@", 1)[1]
    if ":" in netloc and not netloc.endswith("]"):
        netloc = netloc.rsplit(":", 1)[0]
    return netloc


def path_of(canon_url: str) -> str:
    """Path+query of a canonical URL, as matched against robots rules."""
    try:
        parts = urlsplit(canon_url)
    except ValueError:
        return "/"
    path = parts.path or "/"
    if parts.query:
        path += "?" + parts.query
    return path
