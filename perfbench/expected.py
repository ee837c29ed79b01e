"""Expected per-batch counts from the pure-Python oracle (tests/oracle.py).

The oracle re-implements the reference's Go pipeline row by row, so the
counts here are independent of the Spark engine under test:
``parse_normalized`` -> parse error when the parsed source service is
empty (the engine's ``parse_ok`` rule, reference parse.go:72-85) ->
``resolve`` -> routing.

Routing for the default rules is the oracle's own ``route_row``. The
16-sink fan-out rules are defined here once, each as a SQL predicate
for the engine paired with the same predicate over an oracle row.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from logshipper_spark import gen  # noqa: E402
from tests import oracle  # noqa: E402

ROLES = ["user", "assistant", "system", "tool"]


def _eq(sink: str, field: str, value: str):
    return sink, f"{field} = '{value}'", lambda r: r[field] == value


# (sink, SQL predicate, oracle predicate over a flat oracle row)
FANOUT16 = [
    ("sink_errors", "level = 'error' OR status_code >= 500",
     lambda r: r["level"] == "error" or r["status_code"] >= 500),
    _eq("sink_warn", "level", "warn"),
    ("sink_tools", "tool <> ''", lambda r: r["tool"] != ""),
    *[_eq(f"sink_tool_{t}", "tool", t) for t in gen.TOOLS],
    _eq("sink_fmt_json", "format", "json"),
    _eq("sink_fmt_ecs", "format", "ecs_json"),
    _eq("sink_fmt_metric", "format", "metric_json"),
    *[_eq(f"sink_role_{r}", "role", r) for r in ROLES],
    ("sink_default", "true", lambda r: True),
]


def fanout16_rules() -> list[tuple[str, str, int]]:
    """The fan-out rules in ``run_batch``'s (sink, predicate, priority) form."""
    return [(sink, pred, i) for i, (sink, pred, _) in enumerate(FANOUT16)]


def fanout16_route(row: dict) -> list[str]:
    return [sink for sink, _, match in FANOUT16 if match(row)]


def default_route(row: dict) -> list[str]:
    return oracle.route_row(row, row["tool"])


def expected_counts(rows, route_fn, hosts) -> dict:
    """``rows``: iterable of (text, role, tool); ``hosts``: the
    ``gen.lookup_hosts`` rows as (pattern, service, is_wildcard,
    priority) tuples. Returns
    ``{"rows_in", "parse_errors", "sink_rows": {sink: n}}``."""
    rows_in = parse_errors = 0
    sink_rows: dict[str, int] = {}
    for text, role, tool in rows:
        n = oracle.parse_normalized(text, role)
        rows_in += 1
        parse_errors += n["src_service"] == ""
        n = oracle.resolve(n, hosts)
        n["role"], n["tool"] = role, tool
        for sink in route_fn(n):
            sink_rows[sink] = sink_rows.get(sink, 0) + 1
    return {"rows_in": rows_in, "parse_errors": parse_errors, "sink_rows": sink_rows}


def read_rows(path: str):
    """(text, role, tool) of every row of a parquet file or directory."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["text", "role", "tool"]
    )
    return zip(*(table.column(c).to_pylist() for c in ("text", "role", "tool")))
