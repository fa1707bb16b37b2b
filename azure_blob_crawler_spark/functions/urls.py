"""URL canonicalization + hashing as native column expressions.

The reference's URL handling is a bare ``strip https:// and split on /``
(servicebus_processor.py:188-203, handlers.py:174-182). The engine extends it
to real crawl canonicalization (north rule): lowercase scheme+authority, strip
fragment, drop default ports, collapse duplicate slashes, resolve ``.``/``..``
dot-segments (bounded depth), strip trailing slash.

The transformation is defined ONCE as an ordered list of SQL steps and
rendered for two dialects — Spark SQL (engine) and DuckDB (correctness
oracle) — so the driver's side-by-side check exercises the exact same logic.
Everything is a Catalyst-native string expression: no UDF, fully codegen'd,
pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Max nesting depth of `/seg/../` resolution. Bounded because SQL has no
# loops; 8 levels covers any sane URL (deeper ones are attack-shaped and
# canonicalize incompletely but deterministically in BOTH dialects).
_DOTDOT_PASSES = 8


def _rx(expr: str, pattern: str, repl: str, dialect: str) -> str:
    """regexp_replace with replace-ALL semantics in both dialects.

    Spark replaces all matches by default but processes backslash escapes in
    string literals; DuckDB needs the 'g' flag but treats literals verbatim.
    """
    if dialect == "spark":
        pat = pattern.replace("\\", "\\\\")
        return f"regexp_replace({expr}, '{pat}', '{repl}')"
    return f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"


def _sort_query_sql(qry: str, dialect: str) -> str:
    """Stable query-param sort (opt-in crawl hygiene): params ordered by key,
    duplicates keeping their original relative order (the index rides along
    in the sort struct). Rendered per dialect; both sides sort structs
    field-by-field and keep empty params verbatim, so ``?b=2&a=1`` and
    ``?a=1&b=2`` collapse to one frontier entry without ever reordering
    same-key duplicates."""
    if dialect == "spark":
        keyed = (
            f"transform(split({qry}, '&'), "
            "(x, i) -> named_struct('k', split_part(x, '=', 1), 'i', i, 'p', x))"
        )
        return (
            f"case when {qry} = '' then {qry} else "
            f"array_join(transform(array_sort({keyed}), s -> s.p), '&') end"
        )
    keyed = (
        f"list_transform(string_split({qry}, '&'), "
        "(x, i) -> {'k': split_part(x, '=', 1), 'i': i, 'p': x})"
    )
    return (
        f"case when {qry} = '' then {qry} else "
        f"array_to_string(list_transform(list_sort({keyed}), s -> s.p), '&') end"
    )


def _steps(dialect: str, sort_query: bool = False) -> list[tuple[str, str]]:
    """Ordered (alias, sql) steps; each sql may reference prior aliases.

    Inlined textually for the Spark Column form, so every step references its
    predecessor at most once to keep the rendered expression linear in the
    number of steps (a two-reference step doubles the text per pass).
    """
    steps: list[tuple[str, str]] = []
    steps.append(("u0", "trim(__URL__)"))
    # strip fragment (split_part returns the whole string when sep is absent)
    steps.append(("u1", "split_part(u0, '#', 1)"))
    # scheme / rest split on '://' (input contract: absolute URLs)
    steps.append(("sch", "lower(split_part(u1, '://', 1))"))
    steps.append(("rest", "substr(u1, length(sch) + 4)"))
    # authority = up to first '/', lowercased; the SCHEME'S default port is
    # dropped (http://h:443 and http://h are different origins — keep :443)
    steps.append(("authraw", "split_part(rest, '/', 1)"))
    steps.append(
        (
            "auth",
            "case when sch = 'http' then "
            + _rx("lower(authraw)", ":80$", "", dialect)
            + " when sch = 'https' then "
            + _rx("lower(authraw)", ":443$", "", dialect)
            + " else lower(authraw) end",
        )
    )
    # path+query = what follows the authority ('' when nothing does)
    steps.append(("pq", "substr(rest, length(authraw) + 1)"))
    # path vs query
    steps.append(("rawpath", "split_part(pq, '?', 1)"))
    steps.append(("qry", "substr(pq, length(rawpath) + 2)"))
    # collapse '//'+ ; sentinel trailing '/' simplifies '.'/'..' handling
    steps.append(("p0", _rx("rawpath || '/'", "/{2,}", "/", dialect)))
    # resolve '/./' (3 passes: non-overlapping matches need re-scan)
    prev = "p0"
    for i in range(3):
        steps.append((f"pd{i}", _rx(prev, "/\\./", "/", dialect)))
        prev = f"pd{i}"
    # resolve '/seg/../' bottom-up, plus leading '/../' garbage
    for i in range(_DOTDOT_PASSES):
        steps.append((f"ppa{i}", _rx(prev, "^/\\.\\./", "/", dialect)))
        steps.append((f"ppb{i}", _rx(f"ppa{i}", "/[^/]+/\\.\\./", "/", dialect)))
        prev = f"ppb{i}"
    # drop sentinel / trailing slash; '' means root
    steps.append(("path", _rx(prev, "/+$", "", dialect)))
    qfinal = "qry"
    if sort_query:
        steps.append(("qsrt", _sort_query_sql("qry", dialect)))
        qfinal = "qsrt"
    steps.append(
        (
            "canon",
            "sch || '://' || auth || path || "
            f"case when {qfinal} <> '' then '?' || {qfinal} else '' end",
        )
    )
    return steps


def canonicalize_sql(
    url_expr: str,
    dialect: str,
    from_clause: str | None = None,
    sort_query: bool = False,
) -> str:
    """Render the full canonicalization as a scalar SQL expression.

    Returns a nested-subquery SELECT when ``from_clause`` is given (oracle
    use), else a single scalar expression built by textual substitution
    (Spark ``F.expr`` use).

    The steps split strings and do not parse URLs, so a URL that
    ``canonical_url`` maps to NULL (one java.net.URI rejects, such as
    ``https://a.com/p q``) still gets a string here: invalid URLs are
    outside the dialect-parity domain.
    """
    steps = _steps(dialect, sort_query=sort_query)
    if from_clause is None:
        # inline: substitute aliases textually, innermost-first
        env: dict[str, str] = {}
        for alias, sql in steps:
            rendered = sql.replace("__URL__", url_expr)
            # longest-name-first so e.g. 'pd10' never matches inside 'pd1'
            for name in sorted(env, key=len, reverse=True):
                rendered = _subst_ident(rendered, name, env[name])
            env[alias] = f"({rendered})"
        return env["canon"]
    # nested subqueries: one layer per step (readable for the oracle)
    inner = f"select {url_expr} as __url__, * from {from_clause}"
    for alias, sql in steps:
        rendered = sql.replace("__URL__", "__url__")
        inner = f"select *, {rendered} as {alias} from ({inner})"
    return inner


def _subst_ident(sql: str, name: str, repl: str) -> str:
    """Replace identifier `name` with `repl` at word boundaries.

    The replacement goes through a lambda: ``repl`` contains regex escape
    sequences (``\\.``) that ``re.sub``'s template syntax would mangle.
    """
    import re

    return re.sub(rf"\b{name}\b", lambda _m: repl, sql)


def _normalize_path(path: Column) -> Column:
    """Collapse '//'+, resolve '.'/'..' (bounded), strip trailing slash.

    The collapse and dot-resolution regex chains run ONLY for rows whose
    path can match them (cheap substring pre-checks '//' and '/.'): for a
    clean path every pass is the identity, and at 1M urls/round the 19
    skipped regex executions per row were the single hottest expression in
    the frontier-ingest profile (r6: 1.6 s → ~0.5 s warm at 1M rows). The
    guarded branch applies the exact same passes, so output is unchanged."""
    p = F.concat(path, F.lit("/"))
    p = F.when(p.contains("//"), F.regexp_replace(p, "/{2,}", "/")).otherwise(p)
    dotful = p
    for _ in range(3):
        dotful = F.regexp_replace(dotful, "/\\./", "/")
    for _ in range(_DOTDOT_PASSES):
        dotful = F.regexp_replace(dotful, "^/\\.\\./", "/")
        dotful = F.regexp_replace(dotful, "/[^/]+/\\.\\./", "/")
    p = F.when(p.contains("/."), dotful).otherwise(p)
    return F.regexp_replace(p, "/+$", "")


def sort_query_params(qry: Column) -> Column:
    """Stable query-param sort as a native column expression: params ordered
    by key (text before the first '='), same-key duplicates keeping their
    original relative order via the ride-along index in the sort struct."""
    keyed = F.transform(
        F.split(qry, "&"),
        lambda x, i: F.struct(
            F.split_part(x, F.lit("="), F.lit(1)).alias("k"),
            i.alias("i"),
            x.alias("p"),
        ),
    )
    return F.when(qry == "", qry).otherwise(
        F.array_join(F.transform(F.array_sort(keyed), lambda s: s["p"]), "&")
    )


def canonical_url(url: Column | str, sort_query: bool = False) -> Column:
    """Canonicalized URL as a native Spark column expression.

    Built on ``try_parse_url`` (one java.net.URI parse feeding scheme/
    authority/path/query) plus a linear regexp chain for path normalization
    — the step-inlined form used for the DuckDB oracle (``canonicalize_sql``)
    compiles to pathologically large codegen in Spark; this form is a few
    hundred bytes of generated code when ``url`` is a column or a lambda
    variable. The expression refers to ``url`` about 20 times, so an inlined
    expression passed as ``url`` is copied into every reference. Observable
    output is identical; the parity test in tests/test_urls.py pins both
    against the same cases. A URL that java.net.URI rejects
    (``https://a.com/p q``, ``https://a.com/%zz``) canonicalizes to NULL
    instead of failing the query.

    ``sort_query`` (opt-in crawl hygiene, off by default to preserve the
    engine's historical frontier keys): stable-sorts query params by key so
    ``?b=2&a=1`` and ``?a=1&b=2`` dedup to one frontier entry.
    """
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    sch = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    auth_l = F.lower(F.try_parse_url(u, F.lit("AUTHORITY")))
    auth = (
        F.when(sch == "http", F.regexp_replace(auth_l, ":80$", ""))
        .when(sch == "https", F.regexp_replace(auth_l, ":443$", ""))
        .otherwise(auth_l)
    )
    path = _normalize_path(F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit("")))
    qry = F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit(""))
    if sort_query:
        qry = sort_query_params(qry)
    qpart = F.when(qry != "", F.concat(F.lit("?"), qry)).otherwise(F.lit(""))
    return F.concat(sch, F.lit("://"), auth, path, qpart)


def url_host(canon: Column | str) -> Column:
    """Authority (host[:port]) of an already-canonical URL."""
    c = F.col(canon) if isinstance(canon, str) else canon
    rest = F.expr(f"substr({_colname(canon)}, length(split_part({_colname(canon)}, '://', 1)) + 4)")
    return F.split_part(rest, F.lit("/"), F.lit(1))


def _colname(c: Column | str) -> str:
    return c if isinstance(c, str) else c._jc.toString()  # noqa: SLF001


# java.net.URI's ASCII character sets per component (RFC 2396 as the JDK
# implements it); '%' must start a two-hex-digit escape, and any non-ASCII
# character that is neither a space separator nor a control is allowed
_URI_UNRESERVED = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.!~*'()"
_URI_REG_NAME = _URI_UNRESERVED + "$,;:@&=+"
_URI_PATH = _URI_UNRESERVED + ":@&=+$,;/"
_URI_URIC = _URI_UNRESERVED + ";/?:@&=+$,[]"
_URI_IPV6_SERVER = r"^([^@\[\]]*@)?\[[0-9A-Fa-f:.]+\](:[0-9]*)?$"


def _uri_chars_ok(part: str, allowed: str) -> bool:
    import re
    import unicodedata

    return all(
        c in allowed if ord(c) < 128 else unicodedata.category(c) not in ("Zs", "Zl", "Zp", "Cc")
        for c in re.sub("%[0-9A-Fa-f]{2}", "", part)
    )


def _parses_as_uri(u: str) -> bool:
    """True when ``parse_url`` yields a scheme and an authority for ``u``:
    java.net.URI accepts it as ``scheme://authority[path][?query][#frag]``."""
    import re

    rest, _, frag = u.partition("#")
    if "#" in frag or not _uri_chars_ok(frag, _URI_URIC):
        return False
    scheme, sep, rest = rest.partition("://")
    if not sep or not re.fullmatch("[A-Za-z][A-Za-z0-9+.-]*", scheme):
        return False
    rest, _, qry = rest.partition("?")
    auth, _, path = rest.partition("/")
    if not auth or not _uri_chars_ok(qry, _URI_URIC) or not _uri_chars_ok(path, _URI_PATH):
        return False
    return _uri_chars_ok(auth, _URI_REG_NAME) or bool(re.match(_URI_IPV6_SERVER, auth))


def canonical_url_py(url: str, sort_query: bool = False) -> str | None:
    """Pure-Python twin of ``canonical_url`` for the reference-semantics
    simulator (plans/simulator.py). Segment-stack dot resolution equals the
    engine's bounded regex passes for any URL nested ≤ 8 deep (test-pinned
    on the shared CASES plus a synthetic-frontier sweep). None where the
    engine's ``try_parse_url`` yields NULL (``https://a.com/p q``)."""
    u = url.strip(" ")
    if not _parses_as_uri(u):
        return None
    u = u.split("#", 1)[0]
    scheme, _, rest = u.partition("://")
    scheme = scheme.lower()
    slash = rest.find("/")
    if slash < 0:
        auth, pq = rest, ""
    else:
        auth, pq = rest[:slash], rest[slash:]
    auth = auth.lower()
    default_port = {"http": ":80", "https": ":443"}.get(scheme)
    if default_port and auth.endswith(default_port):
        auth = auth[: -len(default_port)]
    path, _, qry = pq.partition("?")
    segs: list[str] = []
    for seg in path.split("/"):
        if seg in ("", "."):
            continue
        if seg == "..":
            if segs:
                segs.pop()
            continue
        segs.append(seg)
    npath = "".join("/" + s for s in segs)
    if sort_query and qry:
        params = qry.split("&")
        params = [
            p
            for _, p in sorted(
                ((q.split("=", 1)[0], i), q) for i, q in enumerate(params)
            )
        ]
        qry = "&".join(params)
    qpart = f"?{qry}" if qry else ""
    return f"{scheme}://{auth}{npath}{qpart}"


def url_host_py(canon: str) -> str:
    rest = canon.partition("://")[2]
    return rest.split("/", 1)[0].split("?", 1)[0]


_SCHEME_RX = "^[A-Za-z][A-Za-z0-9+.-]*:"


def resolve_href(base: Column, href: Column) -> Column:
    """Absolute-ize an href against its source document's (canonical) URL.

    RFC-3986-lite reference resolution as a native column expression
    (when/concat/regexp — no UDF): absolute http(s) hrefs pass through;
    protocol-relative ``//h/p`` take the base scheme; rooted ``/p``,
    query-only ``?q`` and bare relative ``p2.html``/``../x`` resolve against
    the base authority/path (later ``canonical_url`` collapses dot
    segments). Returns NULL — caller drops the row — for fragment-only
    hrefs and unsupported schemes (mailto:, javascript:, data:, ...),
    which the previous behavior pushed straight into ``canonical_url``
    producing junk rows with empty hosts."""
    h = F.trim(href)
    sch = F.lower(F.split_part(base, F.lit("://"), F.lit(1)))
    # first-'://' split (an embedded absolute URL in the query must not
    # shift the parse — the substring_index(-1) form would split on the LAST)
    rest = F.substr(base, F.length(sch) + F.lit(4))
    auth = F.split_part(rest, F.lit("/"), F.lit(1))
    pq = F.substr(rest, F.length(auth) + F.lit(1))
    path = F.split_part(pq, F.lit("?"), F.lit(1))
    basedir = F.regexp_replace(path, "/[^/]*$", "")
    return (
        # empty / whitespace-only href: RFC 3986 calls this a same-document
        # reference; as a crawl link it is self-referential noise — drop it
        # (the fallthrough branch would fabricate a junk basedir/ URL)
        F.when(h == "", F.lit(None).cast("string"))
        .when(F.startswith(h, F.lit("#")), F.lit(None).cast("string"))
        .when(
            h.rlike(_SCHEME_RX),
            F.when(F.lower(h).rlike("^https?://"), h).otherwise(F.lit(None).cast("string")),
        )
        .when(F.startswith(h, F.lit("//")), F.concat(sch, F.lit(":"), h))
        .when(F.startswith(h, F.lit("/")), F.concat(sch, F.lit("://"), auth, h))
        .when(F.startswith(h, F.lit("?")), F.concat(sch, F.lit("://"), auth, path, h))
        .otherwise(F.concat(sch, F.lit("://"), auth, basedir, F.lit("/"), h))
    )


def resolve_href_py(base: str, href: str) -> str | None:
    """Pure-Python twin of ``resolve_href`` (simulator/test parity). Like
    the engine's, it does not parse: an href that resolves to a URL
    java.net.URI rejects (``/p q``) returns that URL, and
    ``canonical_url_py`` of it returns None."""
    import re

    h = href.strip()
    if not h or h.startswith("#"):
        return None
    if re.match(_SCHEME_RX, h):
        return h if re.match("^https?://", h, re.IGNORECASE) else None
    scheme, _, rest = base.partition("://")
    scheme = scheme.lower()
    auth, slash, tail = rest.partition("/")
    pq = slash + tail if slash else ""
    path = pq.split("?", 1)[0]
    if h.startswith("//"):
        return f"{scheme}:{h}"
    if h.startswith("/"):
        return f"{scheme}://{auth}{h}"
    if h.startswith("?"):
        return f"{scheme}://{auth}{path}{h}"
    basedir = re.sub("/[^/]*$", "", path)
    return f"{scheme}://{auth}{basedir}/{h}"


def url_hash(canon: Column | str) -> Column:
    """64-bit key for the seen-set / frontier dedup (xxhash64, JVM-native)."""
    c = F.col(canon) if isinstance(canon, str) else canon
    return F.xxhash64(c)
