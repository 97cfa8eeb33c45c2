"""URL normalization (RFC 3986 §6) — the canonicalization step that runs
before any url-keyed dedup or join in a crawl pipeline: without it the
same page appears under HTTPS://Site.Example.com:443/a/../b and
https://site.example.com/b and every url-grain statistic double-counts.

Normalizations applied (the RFC's semantics-preserving set):
  * scheme and host lowercased
  * default ports stripped (http:80, https:443)
  * dot-segments resolved (/a/./b/../c -> /a/c)
  * percent-encoded UNRESERVED characters decoded (%41 -> A); reserved
    and non-ASCII octets left encoded; hex digits uppercased (%3a -> %3A)
  * empty path -> '/'
  * query parameters sorted by (key, value) — order-insensitive equality,
    the common crawler convention (this one is convention, not RFC)
  * fragment dropped (never sent to the server)

Spark shape: a per-row kernel (stdlib urllib only) mapped by the
package's row stage (`rows.map_rows`) — string surgery with stateful
parsing is exactly the documented UDF escape hatch; everything
upstream/downstream of the column stays JVM-side.
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urlsplit

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .rows import map_rows

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def _norm_pct(s: str) -> str:
    """Decode %XX for unreserved chars; uppercase surviving hex digits."""
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "%" and i + 2 < len(s) + 1 and i + 3 <= len(s):
            hx = s[i + 1 : i + 3]
            try:
                ch = chr(int(hx, 16))
            except ValueError:
                out.append(c)
                i += 1
                continue
            if ch in _UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + hx.upper())
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
        else:
            out.append(seg)
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    # only a final segment that IS exactly '.' or '..' leaves a trailing
    # slash (RFC 3986 §5.2.4); a literal segment merely ending in dots
    # ('file.', 'a..') is a distinct resource and must pass through intact
    if path.split("/")[-1] in (".", "..") and not norm.endswith("/"):
        norm += "/"
    return norm


def normalize_url(url: str) -> str | None:
    """Canonical form, or None when the input does not parse as an
    absolute http(s) URL (quarantine convention, never raise)."""
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https") or not parts.hostname:
        return None
    host = parts.hostname.lower()
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    # percent-decode BEFORE dot-segment removal: %2E is unreserved, so
    # '/a/%2E%2E/b' must canonicalize to '/b' — decoding after would leave
    # a literal '/../' and break idempotence. Decoding unreserved chars
    # can never introduce a new '/' separator (%2F is reserved and kept).
    path = _remove_dot_segments(_norm_pct(parts.path)) or "/"
    query = ""
    if parts.query:
        pairs = sorted(parse_qsl(parts.query, keep_blank_values=True))
        query = urlencode(pairs)
    out = f"{scheme}://{netloc}{path}"
    if query:
        out += f"?{query}"
    return out


def normalize_urls(df: DataFrame, col: str = "url") -> DataFrame:
    """Add url_norm (None for unparseable rows) beside the raw column."""
    return map_rows(
        df,
        [col],
        T.StructType.fromDDL(f"{col} string, url_norm string"),
        lambda u: [{col: u, "url_norm": None if u is None else normalize_url(u)}],
    )
