"""Enrichment: broadcast lookup joins (the reference's resolver layer).

The reference resolves hosts → services per event through a chain of
resolvers with a TTL cache (reference: internal/resolve/static.go,
chain.go:11-22, cache.go:26-78, applied at pipeline.go:178-192). In
Spark the whole dimension ships once per stage as a **broadcast hash
join** — no shuffle of the fact side, and the TTL cache is subsumed
(the broadcast IS the cache; streaming refreshes it per micro-batch).

Wildcard patterns (``*.redis.svc``, reference static.go:27-33) are a
tiny priority-ordered list → compiled into a single first-match
``when()`` chain (expression, not a join — avoids fan-out duplicate
rows from multi-pattern matches while preserving first-match-wins,
reference chain.go:15-21).
"""

from __future__ import annotations

from fnmatch import fnmatchcase

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HostRow = tuple[str, str, bool, int]  # (host_pattern, service, is_wildcard, priority)


def _glob_to_like(pattern: str) -> str:
    """Translate a path.Match-style glob to a SQL LIKE pattern.
    Supports ``*`` and ``?`` (the classes used by the reference's
    configs); escapes LIKE metacharacters."""
    return (
        pattern.replace("\\", "\\\\")
        .replace("%", r"\%")
        .replace("_", r"\_")
        .replace("*", "%")
        .replace("?", "_")
    )


def resolve_expr(host: Column, lookup_rows: list[HostRow]) -> Column:
    """First-match-wins resolver expression over a small pattern list
    (reference: static.go:37-51 — exact map first, then wildcards in
    order). Returns NULL when nothing matches."""
    lowered = F.lower(host)
    exact = [(p, s) for p, s, is_wild, _ in sorted(lookup_rows, key=lambda r: r[3]) if not is_wild]
    wilds = [(p, s) for p, s, is_wild, _ in sorted(lookup_rows, key=lambda r: r[3]) if is_wild]
    expr = None
    for pat, svc in exact:
        cond = lowered == pat.lower()
        expr = F.when(cond, F.lit(svc)) if expr is None else expr.when(cond, F.lit(svc))
    for pat, svc in wilds:
        cond = lowered.like(_glob_to_like(pat.lower()))
        expr = F.when(cond, F.lit(svc)) if expr is None else expr.when(cond, F.lit(svc))
    return expr if expr is not None else F.lit(None).cast("string")


_REPLICA_SUFFIX = r"[-_]\d+$"


def strip_replica_suffix(host: Column) -> Column:
    """Docker compose replica-suffix normalization (reference:
    internal/resolve/docker.go:27,40-41): ``web-3`` / ``web_12`` →
    ``web``; hosts without a trailing ``[-_]<digits>`` are unchanged."""
    return F.regexp_replace(host, _REPLICA_SUFFIX, "")


def _docker_stage(host: Column, rows: list[HostRow]) -> Column:
    """Chain stage mirroring the Docker resolver's name fallback
    (docker.go:29-46) without a Docker API: a host in compose-replica
    shape (``name[-_]N``) resolves through the static map under its
    stripped name, else to the stripped name itself. NULL for hosts not
    in replica shape (the next chain stage decides)."""
    stripped = strip_replica_suffix(host)
    # cheap gate first: a replica-shaped host must end in a digit; the
    # ascii check short-circuits the regex scan for the common case
    last_digit = F.ascii(F.substring(host, -1, 1)).between(48, 57)
    return F.when(
        last_digit & host.rlike(_REPLICA_SUFFIX),
        F.coalesce(resolve_expr(stripped, rows), stripped),
    )


def resolve_services(
    df: DataFrame,
    hosts: DataFrame | list[HostRow],
    dst_col: str = "dst_service",
    src_col: str = "src_service",
    source_name_col: str = "source_name",
    docker_replicas: bool = False,
) -> DataFrame:
    """Pipeline.resolve semantics (reference: pipeline.go:178-192):
    enrich dst_service when set; backfill empty src_service from the
    source name (resolved if possible, else the raw source name).

    ``hosts`` is the resolver map as rows, compiled into a first-match
    expression — the Spark analogue of shipping the resolver map. A
    (small) dimension DataFrame is accepted too and collected on the
    driver here, one job per call; callers that resolve every batch
    pass rows so no batch pays that collect.

    ``docker_replicas=True`` appends the Docker-resolver stage to the
    chain (reference config ``resolve.docker: true``): hosts the static
    map misses are retried with their replica suffix stripped
    (docker.go:29-46, J5).
    """
    rows = hosts if isinstance(hosts, list) else [
        (r["host_pattern"], r["service"], r["is_wildcard"], r["priority"])
        for r in hosts.collect()
    ]
    dst = F.col(dst_col)
    src = F.col(src_col)
    src_name = F.col(source_name_col)
    resolved_dst = resolve_expr(dst, rows)
    resolved_src = resolve_expr(src_name, rows)
    if docker_replicas:
        resolved_dst = F.coalesce(resolved_dst, _docker_stage(dst, rows))
        resolved_src = F.coalesce(resolved_src, _docker_stage(src_name, rows))
    out = df.withColumn(
        dst_col, F.when(dst != "", F.coalesce(resolved_dst, dst)).otherwise(dst)
    )
    out = out.withColumn(
        src_col, F.when(src == "", F.coalesce(resolved_src, src_name)).otherwise(src)
    )
    return out


def enrich_roles(
    df: DataFrame,
    lookup_df: DataFrame,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Broadcast-join enrichment keyed on (role, tool) — the north-rule
    lookup. Left join; unmatched rows keep the fact row with empty
    enrichment values (nothing is ever dropped)."""
    lk = F.broadcast(
        lookup_df.select(
            F.col("role").alias("_lk_role"),
            F.col("tool").alias("_lk_tool"),
            "team",
            "cost_tier",
            "sink_hint",
        )
    )
    joined = df.join(
        lk,
        (F.col(role_col) == F.col("_lk_role")) & (F.col(tool_col) == F.col("_lk_tool")),
        "left",
    ).drop("_lk_role", "_lk_tool")
    return (
        joined.withColumn("team", F.coalesce(F.col("team"), F.lit("")))
        .withColumn("cost_tier", F.coalesce(F.col("cost_tier"), F.lit("")))
        .withColumn("sink_hint", F.coalesce(F.col("sink_hint"), F.lit("")))
    )


def resolve_one(
    host: str,
    lookup_rows: list[HostRow],
    docker_replicas: bool = False,
) -> str | None:
    """Driver-side single-value resolver (test oracle parity helper),
    same semantics as resolve_expr (+ optional Docker replica stage)."""
    import re

    lowered = host.lower()
    ordered = sorted(lookup_rows, key=lambda r: r[3])
    for pat, svc, is_wild, _ in ordered:
        if not is_wild and lowered == pat.lower():
            return svc
    for pat, svc, is_wild, _ in ordered:
        if is_wild and fnmatchcase(lowered, pat.lower()):
            return svc
    if docker_replicas and re.search(r"[-_]\d+$", host):
        stripped = re.sub(r"[-_]\d+$", "", host)
        return resolve_one(stripped, lookup_rows) or stripped
    return None
