"""Pure-Python canonicalization twin of urlnorm.canonicalize_cols —
used by the crawl oracle and the differential tests.
Same contract: lowercase scheme+host, strip fragment, default-port
removal, resolve against base, keep query."""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit, urlunsplit

_DEFAULT_PORTS = {"http": 80, "https": 443}


def canonicalize_py(href: str, base: str) -> str:
    absolute = urljoin(base, href)
    parts = urlsplit(absolute)
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    netloc = host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    return urlunsplit((scheme, netloc, path, parts.query, ""))
