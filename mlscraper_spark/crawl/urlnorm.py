"""F11 — URL canonicalization + hashing (new build, SURVEY.md §2.7).

The canonical form and the 64-bit hash are the *identity* of a URL in every
crawl table; the sequential oracle (plain Python) and the Spark engine must
agree bit-for-bit, so the hash here is a pure-Python implementation of
XXH64 that matches Spark's ``F.xxhash64(col)`` (seed 42) exactly — the
engine uses the JVM-native expression on the hot path and this
implementation only in the oracle and in tests.
"""
from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urlsplit

_MASK = (1 << 64) - 1
_PRIME1 = 0x9E3779B185EBCA87
_PRIME2 = 0xC2B2AE3D27D4EB4F
_PRIME3 = 0x165667B19E3779F9
_PRIME4 = 0x85EBCA77C2B2AE63
_PRIME5 = 0x27D4EB2F165667C5


def xxhash64(data: bytes, seed: int = 42,
             _from_bytes=int.from_bytes) -> int:
    """XXH64, returned as a *signed* 64-bit int to match Spark's LongType.

    Default seed 42 matches Spark's XxHash64 expression default.

    The XXH64 rotate and round steps are written inline: this function
    runs 13x per fetched page in the synthetic web's content derivation
    (``_h``), and calling them as helpers was ~40% of its runtime at the
    bench crawl width (r6 profile).  Values are test-pinned against
    Spark's JVM expression."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _PRIME1 + _PRIME2) & _MASK
        v2 = (seed + _PRIME2) & _MASK
        v3 = seed
        v4 = (seed - _PRIME1) & _MASK
        while i <= n - 32:
            v1 = (v1 + _from_bytes(data[i:i + 8], "little") * _PRIME2) & _MASK
            v1 = (((v1 << 31) | (v1 >> 33)) & _MASK) * _PRIME1 & _MASK
            v2 = (v2 + _from_bytes(data[i + 8:i + 16], "little") * _PRIME2) & _MASK
            v2 = (((v2 << 31) | (v2 >> 33)) & _MASK) * _PRIME1 & _MASK
            v3 = (v3 + _from_bytes(data[i + 16:i + 24], "little") * _PRIME2) & _MASK
            v3 = (((v3 << 31) | (v3 >> 33)) & _MASK) * _PRIME1 & _MASK
            v4 = (v4 + _from_bytes(data[i + 24:i + 32], "little") * _PRIME2) & _MASK
            v4 = (((v4 << 31) | (v4 >> 33)) & _MASK) * _PRIME1 & _MASK
            i += 32
        h = ((((v1 << 1) | (v1 >> 63)) + ((v2 << 7) | (v2 >> 57))
              + ((v3 << 12) | (v3 >> 52)) + ((v4 << 18) | (v4 >> 46))) & _MASK)
        for v in (v1, v2, v3, v4):
            r = (v * _PRIME2) & _MASK
            r = (((r << 31) | (r >> 33)) & _MASK) * _PRIME1 & _MASK
            h = ((h ^ r) * _PRIME1 + _PRIME4) & _MASK
    else:
        h = (seed + _PRIME5) & _MASK
    h = (h + n) & _MASK
    while i <= n - 8:
        r = (_from_bytes(data[i:i + 8], "little") * _PRIME2) & _MASK
        r = (((r << 31) | (r >> 33)) & _MASK) * _PRIME1 & _MASK
        h ^= r
        h = ((((h << 27) | (h >> 37)) & _MASK) * _PRIME1 + _PRIME4) & _MASK
        i += 8
    if i <= n - 4:
        h ^= (_from_bytes(data[i:i + 4], "little") * _PRIME1) & _MASK
        h = ((((h << 23) | (h >> 41)) & _MASK) * _PRIME2 + _PRIME3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _PRIME5) & _MASK
        h = (((h << 11) | (h >> 53)) & _MASK) * _PRIME1 & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _PRIME2) & _MASK
    h ^= h >> 29
    h = (h * _PRIME3) & _MASK
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def canonicalize(url: str) -> str:
    """Deterministic canonical URL form (the engine's F11):

    - scheme + host lowercased, default ports stripped
    - fragment stripped
    - query parameters sorted by (key, value)
    - empty path → '/'
    - trailing slash preserved (distinct resources)
    """
    parts = urlsplit(url.strip())
    scheme = (parts.scheme or "http").lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    if port and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        host = f"{host}:{port}"
    path = parts.path or "/"
    query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
    out = f"{scheme}://{host}{path}" + (f"?{query}" if query else "")
    # the canonical form must itself re-parse (identity columns are split
    # again downstream): hostless junk like '[' would otherwise yield
    # 'http://[' — an invalid IPv6 literal to every parser.  Raises
    # ValueError; try_canonicalize turns that into a dropped link.
    urlsplit(out)
    return out


# URLs of the dominant shape scheme://host/path — no port, userinfo,
# query, fragment, or non-ASCII host — canonicalize to
# scheme.lower()://host.lower() + (path or '/'), which pandas C-regex ops
# compute without per-row Python.  Everything else falls back to
# ``canonicalize``.  The path group excludes tab/CR/LF: urlsplit strips
# those WHATWG-unsafe bytes ANYWHERE in the URL, so a fast path that kept
# them would diverge from the scalar canonicalizer (engine vs oracle
# bit-parity).  Equality of the two paths is property-tested
# (tests/test_urlnorm.py, including embedded \t/\r/\n).
_FAST_URL_RE = re.compile(
    r"^([A-Za-z][A-Za-z0-9+.\-]*)://([A-Za-z0-9.\-]+)(/[^?#\t\r\n]*)?$"
)


def canonicalize_series(raw):
    """Vectorized F11 over a pandas Series → DataFrame(url_canon, host,
    path).  Fast path for the common URL shape; per-row ``canonicalize``
    only for the residue (ports, queries, fragments, userinfo, IDN)."""
    import pandas as pd

    s = raw.astype(str).str.strip()
    ext = s.str.extract(_FAST_URL_RE)
    fast = ext[0].notna()
    out_canon = pd.Series(index=s.index, dtype=object)
    out_host = pd.Series(index=s.index, dtype=object)
    out_path = pd.Series(index=s.index, dtype=object)
    if fast.any():
        host = ext.loc[fast, 1].str.lower()
        path = ext.loc[fast, 2].fillna("/")
        out_canon[fast] = ext.loc[fast, 0].str.lower() + "://" + host + path
        out_host[fast] = host
        out_path[fast] = path
    slow = ~fast
    if slow.any():
        canons = s[slow].map(try_canonicalize)
        out_canon[slow] = canons
        out_host[slow] = canons.map(lambda c: urlsplit(c).netloc if c else None)
        out_path[slow] = canons.map(lambda c: urlsplit(c).path if c else None)
    return pd.DataFrame(
        {"url_canon": out_canon, "host": out_host, "path": out_path}
    )


def try_canonicalize(url: str) -> str | None:
    """None for hrefs urlsplit rejects (bad IPv6 brackets, junk ports) —
    not crawlable links; oracle and engine drop them identically so one
    hostile page never fails a Spark task nor diverges the crawl."""
    try:
        return canonicalize(url)
    except ValueError:
        return None


def url_hash(url_canon: str) -> int:
    """Signed-64 xxhash64 of the canonical URL — equals
    ``F.xxhash64(url_canon)`` in Spark."""
    return xxhash64(url_canon.encode("utf-8"))


def host_of(url_canon: str) -> str:
    return urlsplit(url_canon).netloc


def host_bucket(host: str, n_buckets: int) -> int:
    """Equals ``F.pmod(F.xxhash64(host), n_buckets)`` in Spark."""
    return xxhash64(host.encode("utf-8")) % n_buckets


def content_fp(body: bytes) -> int:
    """Signed-64 content fingerprint of a response body (first 8 bytes of
    md5, little-endian).  md5 over the KB-sized body runs in C — the
    pure-Python ``xxhash64`` above is for the SHORT url/host strings that
    must be bit-equal to Spark's JVM expression; a page body is hashed
    once at fetch time and only ever compared fp-to-fp, so C-speed beats
    JVM-recomputability on this hot path."""
    import hashlib

    return int.from_bytes(hashlib.md5(body).digest()[:8], "little", signed=True)
