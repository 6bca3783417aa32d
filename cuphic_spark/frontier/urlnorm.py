"""URL canonicalization — one implementation, pinned to a Python twin.

* ``canonicalize_cols`` — pure built-in column expressions (the hot
  path: codegen'd, pushdown-friendly). Handles the full synthetic
  graph plus the common real-world cases: relative paths, fragment
  strip, scheme/host lowercasing, default-port removal.
* ``urlnorm_py.canonicalize_py`` — the urllib twin the crawl oracle
  uses; tests pin the two equal on the synthetic corpus.

Contract: lowercase scheme+host, strip fragment, drop default port
(:80 http, :443 https), resolve against the base page url, keep the
query string verbatim, no trailing-slash games.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def base_origin(base: Column) -> Column:
    """scheme://host[:port] of the base url, scheme+host lowercased."""
    scheme = F.lower(F.regexp_extract(base, _SCHEME_RE, 1))
    rest = F.regexp_replace(base, _SCHEME_RE, "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]+)", 1))
    return F.concat(scheme, F.lit("://"), hostport)


def canonicalize_cols(href: Column, base: Column) -> Column:
    """Canonical absolute url for ``href`` found on page ``base``."""
    no_frag = F.regexp_replace(href, r"#.*$", "")
    base_nf = F.regexp_replace(base, r"#.*$", "")
    # base directory for relative resolution: directory-truncate ONLY
    # when the base has a path after the origin; for a path-less base
    # ('https://host.example') the truncate regex would eat
    # '/host.example' and splice the href into the authority — guard
    # with origin + '/' instead (advisor round-1 finding).
    base_has_path = base_nf.rlike(
        r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*/")
    base_dir = (
        F.when(base_has_path,
               F.regexp_replace(base_nf, r"/[^/]*$", "/"))
        .otherwise(F.concat(base_origin(base), F.lit("/"))))
    absolute = (
        F.when(no_frag.rlike(_SCHEME_RE), no_frag)
        .when(no_frag.startswith("/"), F.concat(base_origin(base), no_frag))
        .otherwise(  # relative path: resolve against base directory
            F.concat(base_dir, no_frag))
    )
    scheme = F.lower(F.regexp_extract(absolute, _SCHEME_RE, 1))
    rest = F.regexp_replace(absolute, _SCHEME_RE, "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]+)", 1))
    # path+query = rest minus hostport
    pathq = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 30))
    host = (
        F.when((scheme == "https") & hostport.endswith(":443"),
               F.substring(hostport, 1, F.length(hostport) - 4))
        .when((scheme == "http") & hostport.endswith(":80"),
              F.substring(hostport, 1, F.length(hostport) - 3))
        .otherwise(hostport)
    )
    path_final = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    return F.concat(scheme, F.lit("://"), host, path_final)


def host_col(url: Column) -> Column:
    return F.regexp_extract(url, r"^[a-z]+://([^/:?#]+)", 1)


def path_col(url: Column) -> Column:
    p = F.regexp_extract(url, r"^[a-z]+://[^/]+(/[^#?]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)

