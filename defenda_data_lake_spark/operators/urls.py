"""URL / domain curation operators — the C4/Dolma web-corpus hygiene
step the text family lacked until round 8: extract and normalize the
domain from a document's source URL, cap documents per domain (one
site must not dominate a training mix), and drop blocklisted domains
including their subdomains.

The reference has no web-corpus code at all (its corpus is JSON
security events); this family belongs to the LLM-training-data
pipeline surface.  Public precedents: C4 caps and filters by
registrable domain; Dolma's blocklist filter matches a domain and
every subdomain under it.

Scale design:

* ``extract_domain`` is pure JVM codegen (``parse_url`` + string
  functions) — parquet-scan speed, shuffle-free.
* ``domain_caps`` is ONE hash exchange on the domain and a per-group
  rank that Spark plans as ``WindowGroupLimit`` when used as a filter
  (partition-local top-k prune BEFORE the exchange, so a megadomain's
  rows die map-side).
* ``blocklist_filter`` explodes each domain into its dot-suffix chain
  (bounded by label count, ~3-6 rows/doc) and broadcast-joins the
  blocklist — subdomain matching as an EQUI-join, never a
  ``LIKE``-cartesian; the blocklist (10^4-10^6 rows in practice) stays
  the broadcast side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_domain(df: DataFrame) -> DataFrame:
    """Add ``domain``: the ``url`` column's host, normalized — lowercased,
    trailing dot stripped, and one leading ``www.`` label dropped, the
    conventional display form C4-style pipelines key on.
    Unparseable / relative URLs yield NULL (``try_parse_url`` — the
    ANSI ``parse_url`` THROWS on the first malformed URL, and one bad
    record must not fail a corpus-wide curation job); the port never
    appears (``…'HOST'`` returns the bare host).

    Pure codegen projection — no UDF, no shuffle; safe to run in the
    same stage as the parquet scan at any corpus size."""
    host = F.lower(F.try_parse_url(F.col("url"), F.lit("HOST")))
    host = F.regexp_replace(host, r"\.$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    return df.withColumn("domain", host)


def domain_suffixes(domain_col) -> "F.Column":
    """Array of the domain's dot-suffixes, most-specific first:
    ``a.b.com -> [a.b.com, b.com, com]`` — the match set for
    subdomain-inclusive blocklists.  Codegen (split + transform +
    array_join), bounded by the label count."""
    parts = F.split(domain_col, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )


def blocklist_filter(df: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Drop rows whose ``domain`` is on the blocklist — including rows
    on any SUBDOMAIN of a blocked entry (Dolma's contract: blocking
    ``tracker.biz`` blocks ``cdn.tracker.biz``).  ``blocklist`` is a
    DataFrame with the blocked domains in ``blocked_domain`` (already
    normalized the same way as ``domain``).  NULL domains survive (no
    URL is not evidence of a blocked URL — filter those separately if
    unwanted).

    Plan: the suffix chain turns subdomain matching into an EQUI-join
    (explode ~3-6 suffix rows per doc, broadcast the blocklist, LEFT
    SEMI to find hits, LEFT ANTI the hit ids back out).  No LIKE scan,
    no cartesian; the corpus is exchanged zero times (both joins
    broadcast)."""
    bl = F.broadcast(
        blocklist.select(F.col("blocked_domain").alias("_bl_domain")).distinct()
    )
    probe = df.select(
        F.col("domain").alias("_bl_probe_domain"),
        F.explode(domain_suffixes(F.col("domain"))).alias("_bl_sfx"),
    )
    hits = (
        probe.join(bl, probe["_bl_sfx"] == bl["_bl_domain"], "left_semi")
        .select(F.col("_bl_probe_domain").alias("_bl_hit"))
        .distinct()
    )
    # hit DOMAINS (not doc ids) come back — the hit set is bounded by
    # distinct blocked-matching domains, broadcastable by the same
    # argument as the blocklist itself
    return df.join(F.broadcast(hits), df["domain"] == hits["_bl_hit"], "left_anti")


def domain_caps(df: DataFrame, max_per_domain: int) -> DataFrame:
    """Keep at most ``max_per_domain`` rows per ``domain`` — the C4-style
    anti-dominance cap on a training mix.  Survivors are the first
    ``max_per_domain`` by ``doc_id`` ascending (a deterministic
    arrival-order proxy); the kept rank rides along in
    ``domain_rank`` (1-based).  NULL domains are all kept
    (they form no site, so no site dominates).

    Plan: ONE hash exchange on the partition key; the rank + filter
    compiles to ``WindowGroupLimit``, which prunes each partition to
    its local top-``max_per_domain`` BEFORE the exchange — a
    megadomain sheds its excess rows map-side instead of funneling
    them into one reducer.  NULL domains do NOT share one window
    partition (that would sort every URL-less row in a single task):
    each gets a unique id-derived pseudo-key, so they rank 1 alone,
    pass the cap, and the filter stays the bare ``rank <= k`` shape
    WindowGroupLimit requires."""
    if max_per_domain < 1:
        raise ValueError(f"max_per_domain must be >= 1; got {max_per_domain}")
    from pyspark.sql import Window

    part_key = F.coalesce(
        F.col("domain"),
        F.concat(F.lit(" null "), F.col("doc_id").cast("string")),
    )
    w = Window.partitionBy(part_key).orderBy("doc_id")
    ranked = df.withColumn("_dc_rank", F.row_number().over(w))
    return (
        ranked.filter(F.col("_dc_rank") <= max_per_domain)
        .withColumn(
            "domain_rank",
            F.when(
                F.col("domain").isNotNull(), F.col("_dc_rank")
            ).cast("int"),
        )
        .drop("_dc_rank")
    )
