"""URL / domain curation for web-corpus pipelines.

A pretraining crawl is keyed by URL: the standard gates — blocklist the
spam domains, cap pages per site, group by registered domain for
quotas and dedup — all need (host → registered domain) extraction that
is correct on the messy parts of real URLs (ports, userinfo, uppercase
hosts, multi-part public suffixes like ``co.uk``).

Spark-first shape: host extraction is the JVM built-in ``try_parse_url``
(java.net.URI semantics: strips scheme, userinfo, port, path);
registered-domain derivation is pure string expressions over the label
array; list gates are broadcast semi/anti joins on the registered
domain — blocking ``spam.co.uk`` must also block ``www.spam.co.uk``,
which a raw-host match silently misses. Everything is codegen on the
scan; the only shuffle a gate introduces is none (broadcast).

Two derivation tiers (round 8): :func:`registered_domain` is the
zero-setup heuristic (a ~21-entry multi-part suffix subset, classic
eTLD+1 fallback) for when no rule table is at hand;
:func:`registered_domain_psl` is the production path — the REAL
public-suffix list (lines, a DataFrame, or pre-parsed) with full
wildcard/exception semantics, executed as one broadcast left join per
rule label count, still zero corpus shuffles. ``domain_gate`` takes
``psl_rules=`` to gate with the full semantics.

Reference behavior anchor: the reference's enrichment tier keys its
geocode cache by URL-shaped API endpoints (monarch_etl/enrichment.py);
this module is the curation-side generalization a 100 TB web corpus
needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# common multi-part public suffixes (heuristic subset; see module doc)
MULTI_PART_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.br", "com.cn", "com.mx", "com.ar", "com.tr", "com.sg",
    "co.in", "co.nz", "co.za", "co.kr",
)


def url_host(c: Column) -> Column:
    """Host of a URL — java.net.URI semantics via the JVM ``parse_url``:
    no scheme, no ``user:pw@`` userinfo, no ``:port``, no path. NULL for
    unparseable strings via ``try_parse_url`` — Spark 4's plain
    ``parse_url`` THROWS on an invalid URL, and a corrupt URL in a
    100 TB crawl column must not kill the job."""
    return F.try_parse_url(c, F.lit("HOST"))


_IPV4_RE = r"^\d{1,3}(\.\d{1,3}){3}$"


def _is_ip_literal(host: Column) -> Column:
    """IPv4 dotted-quad or anything with a colon (IPv6, bracketed or
    not — java.net.URI keeps the brackets in HOST)."""
    return host.rlike(_IPV4_RE) | host.contains(":")


def registered_domain(
    host: Column,
    multi_part_suffixes: tuple[str, ...] = MULTI_PART_SUFFIXES,
) -> Column:
    """eTLD+1 from a host: ``www.blog.spam.co.uk`` → ``spam.co.uk``,
    ``a.b.example.com`` → ``example.com``; a bare or two-label host is
    returned as-is. Case-folded (hosts are case-insensitive). Pure
    string expressions — no UDF. IP-literal hosts (dotted-quad IPv4 or
    anything containing a colon) yield NULL — "their last two octets"
    is not a domain, and a curation gate treats NULL as unattributable
    (fails closed); gate IP-hosted URLs by the raw host if they matter
    to your blocklist. For full public-suffix-list semantics (wildcard
    and exception rules, thousands of suffixes) use
    :func:`registered_domain_psl` with the real PSL."""
    # substring_index, not split+element_at: Catalyst has no
    # let-binding, so the split array would be re-inlined (and the
    # regex re-run) at every element_at reference — measured 10.6 s vs
    # 3.0 s on 10M hosts (SCALING.md, "PSL derivation cost anatomy").
    # substring_index walks the string once per reference with no
    # regex and no array. A host with ≤ 2 labels is its own last-2
    # (substring_index returns the whole string when there are fewer
    # separators), which is exactly the bare/two-label passthrough.
    h = F.lower(host)
    last2 = F.substring_index(h, ".", -2)
    last3 = F.substring_index(h, ".", -3)
    return F.when(
        host.isNull() | _is_ip_literal(h), F.lit(None).cast("string")
    ).when(
        last2 == h, h
    ).when(last2.isin(*multi_part_suffixes), last3).otherwise(last2)


def parse_psl_rules(rules) -> dict[int, dict[str, list[bool]]]:
    """Parse public-suffix-list lines into ``{n_labels: {key:
    [normal, wildcard, exception]}}``.

    PSL rule grammar (publicsuffix.org/list): one rule per line;
    ``//`` comments and blank lines ignored; ``*.foo`` is a wildcard
    rule (the ``*`` consumes exactly one host label); ``!bar.foo`` is
    an exception rule (overrides any matching wildcard/normal rule;
    the rule minus its leftmost label is the public suffix). Keys are
    stored WITHOUT the ``*.``/``!`` marker, keyed by their own label
    count — that is the equality-join key :func:`registered_domain_psl`
    probes per length.

    ``rules`` is an iterable of lines (e.g. the PSL file split on
    newlines) or a single-column DataFrame of lines (the broadcast-
    table production shape — collected here; the full PSL is ~15k
    rows, list-sized, never corpus-sized). IDN handling is the
    caller's: the published PSL lists unicode labels, so punycode
    (``xn--``) hosts only match if the rule table was punycoded the
    same way — normalize one side before gating."""
    if isinstance(rules, DataFrame):
        col = rules.columns[0]
        rules = [r[col] for r in rules.select(col).collect()]
    out: dict[int, dict[str, list[bool]]] = {}
    for line in rules:
        if line is None:
            continue
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        line = line.split()[0].lower().strip(".")
        is_exc = line.startswith("!")
        is_wild = line.startswith("*.")
        key = line[1:] if is_exc else (line[2:] if is_wild else line)
        if not key:
            continue
        n = key.count(".") + 1
        flags = out.setdefault(n, {}).setdefault(key, [False, False, False])
        if is_exc:
            flags[2] = True
        elif is_wild:
            flags[1] = True
        else:
            flags[0] = True
    return out


def registered_domain_psl(
    df: DataFrame,
    host_col: str,
    rules,
    out_col: str = "registered_domain",
) -> DataFrame:
    """Full public-suffix-list eTLD+1: wildcard (``*.ck``) and
    exception (``!www.ck``) rule semantics, longest-match precedence,
    the implicit ``*`` default rule, and NULL for IP literals and for
    hosts that ARE a public suffix.

    Spark-first shape: one broadcast LEFT join per distinct rule label
    count (the real PSL has ≤5) on the host's length-k trailing-label
    suffix — every join is a map-side broadcast hash probe, so the
    whole derivation adds ZERO shuffles and stays in whole-stage
    codegen; rules live in broadcast relations, never in the
    expression tree (a 15k-entry literal map would blow up analysis).
    Resolution follows the published algorithm: a matching exception
    rule prevails (public suffix = rule minus its leftmost label);
    otherwise the longest matching rule (a wildcard rule counts its
    ``*``); otherwise the default ``*`` rule (public suffix = the
    rightmost label). The registered domain is the public suffix plus
    one preceding host label, or NULL when the host has none to give.

    ``rules``: PSL lines, a lines DataFrame, or a pre-parsed
    :func:`parse_psl_rules` dict."""
    if not isinstance(rules, dict):
        rules = parse_psl_rules(rules)
    clash = [
        c
        for c in df.columns
        if c.lower() == out_col.lower() or c.lower().startswith("_psl_")
    ]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with output column {out_col!r} "
            "or the reserved '_psl_*' working names; rename them first"
        )
    spark = df.sparkSession
    host = F.regexp_replace(F.lower(F.col(host_col)), r"\.$", "")
    labels = F.split(host, r"\.")

    lengths = sorted(rules)
    matched_cols: list[Column] = []
    exc_cols: list[Column] = []
    # bind the label array through a Generate node (explode of a
    # 1-element array): Catalyst has no let-binding, so a plain
    # withColumn would re-inline lower+regexp_replace+split at EVERY
    # reference (one per rule length plus the final slice) after
    # projection collapse — measured 1.0 s -> 0.2 s warm on the 100k-URL
    # bench branch (the same discipline as the shingle paths, README
    # "Catalyst has no let-binding")
    work = df.select(
        "*", F.explode(F.array(labels)).alias("_psl_labels")
    ).withColumn("_psl_n", F.size(F.col("_psl_labels")))
    for k in lengths:
        rk = spark.createDataFrame(
            [(key, f[0], f[1], f[2]) for key, f in rules[k].items()],
            f"_psl_key{k} string, _psl_norm{k} boolean, "
            f"_psl_wild{k} boolean, _psl_exc{k} boolean",
        )
        sfx = F.when(
            F.col("_psl_n") >= k,
            F.concat_ws(
                ".", F.slice(F.col("_psl_labels"), F.col("_psl_n") - k + 1, k)
            ),
        )
        work = work.withColumn(f"_psl_sfx{k}", sfx).join(
            F.broadcast(rk),
            F.col(f"_psl_sfx{k}") == F.col(f"_psl_key{k}"),
            "left",
        )
        matched_cols.append(F.when(F.col(f"_psl_norm{k}"), F.lit(k)))
        matched_cols.append(
            F.when(
                F.col(f"_psl_wild{k}") & (F.col("_psl_n") > k), F.lit(k + 1)
            )
        )
        exc_cols.append(F.when(F.col(f"_psl_exc{k}"), F.lit(k)))

    exc_len = exc_cols[0] if len(exc_cols) == 1 else F.greatest(*exc_cols)
    best = (
        matched_cols[0] if len(matched_cols) == 1 else F.greatest(*matched_cols)
    )
    pub_len = F.when(exc_len.isNotNull(), exc_len - 1).otherwise(
        F.coalesce(best, F.lit(1))
    )
    nn = F.col("_psl_n")
    reg = F.when(
        F.col(host_col).isNull()
        | _is_ip_literal(host)
        | F.array_contains(F.col("_psl_labels"), ""),
        F.lit(None).cast("string"),
    ).otherwise(
        F.when(
            nn > pub_len,
            F.concat_ws(
                ".", F.slice(F.col("_psl_labels"), nn - pub_len, pub_len + 1)
            ),
        )
    )
    drop = ["_psl_labels", "_psl_n"] + [
        c
        for k in lengths
        for c in (
            f"_psl_sfx{k}", f"_psl_key{k}", f"_psl_norm{k}",
            f"_psl_wild{k}", f"_psl_exc{k}",
        )
    ]
    return work.withColumn(out_col, reg).drop(*drop)


def domain_gate(
    df: DataFrame,
    url_col: str,
    domains: DataFrame,
    mode: str = "block",
    domain_col: str = "domain",
    psl_rules=None,
) -> DataFrame:
    """Blocklist/allowlist gate on the REGISTERED domain of a URL
    column: ``mode='block'`` drops rows whose eTLD+1 is in ``domains``
    (subdomains included — the evasion a raw-host match misses);
    ``mode='allow'`` keeps only those. Unparseable URLs (NULL host) and
    IP-literal hosts are DROPPED in both modes: an unattributable page
    fails a curation gate closed, not open.

    ``domains`` is broadcast — blocklists are thousands-to-millions of
    rows, never corpus-sized; the gate adds zero shuffles. Pass the
    real public-suffix list via ``psl_rules`` (lines, a lines
    DataFrame, or a :func:`parse_psl_rules` dict) to derive the
    registered domain with full wildcard/exception semantics
    (:func:`registered_domain_psl` — still shuffle-free); without it
    the heuristic :func:`registered_domain` suffix subset applies.
    """
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be block|allow, got {mode!r}")
    # same convention as sampling._reject_reserved_columns: the staging
    # column must not silently clobber caller data (case-insensitive,
    # matching spark.sql.caseSensitive=false resolution)
    clash = [c for c in df.columns if c.lower() in ("_dom", "_dom_host")]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with domain_gate's reserved "
            "working columns ('_dom', '_dom_host'); rename them first"
        )
    if psl_rules is None:
        dom = registered_domain(url_host(F.col(url_col)))
        keyed = df.withColumn("_dom", dom)
    else:
        keyed = registered_domain_psl(
            df.withColumn("_dom_host", url_host(F.col(url_col))),
            "_dom_host",
            psl_rules,
            out_col="_dom",
        ).drop("_dom_host")
    keyed = keyed.filter(F.col("_dom").isNotNull())
    side = F.broadcast(
        domains.select(F.lower(F.col(domain_col)).alias("_dom")).distinct()
    )
    how = "left_anti" if mode == "block" else "left_semi"
    return keyed.join(side, "_dom", how).drop("_dom")
