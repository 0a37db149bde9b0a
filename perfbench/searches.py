"""The search request mix and its DuckDB oracle.

Five Kibana-style request kinds, cycled in a fixed order, each with
parameters drawn from the seed. Every request runs against a fresh
``sink.read_index`` frame. Each kind has an SQL twin over the sink's
parquet files (deduplicated by ``doc_id``) and a normaliser that turns
the engine's response rows and the SQL rows into the same comparable
list.

The mix steps around three engine defects (see README.md): ``@cf.*``
fields are backtick-quoted in ``_search`` bodies, the day histogram uses
``calendar_interval: "day"`` over a runtime date field instead of
``"1d"`` over the epoch-millis ``timestamp``, and ES|QL groups by
dot-free columns.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

DAY_MS = 86_400_000
# the seed picks where each request looks, not how much it reads: every
# request covers the same number of days
SPAN_DAYS = 5
TOP_N = 20
KINDS = ("bool_terms", "query_string", "date_histogram", "top_hits", "esql_stats")
EVENT_PAIRS = [("error", "purchase"), ("view", "click"), ("signup", "logout"), ("error", "logout")]
ORGS = [f"org-env{e}-{i}" for e in (1, 2) for i in range(4)]


def _day(base_ms: int, d: int) -> str:
    return dt.datetime.fromtimestamp((base_ms + d * DAY_MS) / 1000, dt.timezone.utc).strftime("%Y-%m-%d")


def make_request(kind: str, rng: np.random.Generator, base_ms: int, days: int) -> dict:
    """One request of ``kind``: the engine call and its SQL twin."""
    d0 = int(rng.integers(0, days - SPAN_DAYS))
    d1 = d0 + SPAN_DAYS
    lo, hi = base_ms + d0 * DAY_MS, base_ms + d1 * DAY_MS
    span = {"range": {"timestamp": {"gte": lo, "lt": hi}}}
    where = f'"timestamp" >= {lo} AND "timestamp" < {hi}'
    if kind == "bool_terms":
        orgs = sorted(rng.choice(ORGS, size=3, replace=False).tolist())
        body = {
            "query": {"bool": {"filter": [span, {"terms": {"`@cf.org`": orgs}}]}},
            "size": 0,
            "aggs": {"by_app": {"terms": {"field": "`@cf.app`", "size": 200}}},
        }
        in_list = ", ".join(f"'{o}'" for o in orgs)
        sql = (
            f'SELECT "@cf.app" AS k, count(*) AS n FROM docs WHERE {where} '
            f'AND "@cf.org" IN ({in_list}) AND "@cf.app" IS NOT NULL GROUP BY 1'
        )
        return {"kind": kind, "body": body, "sql": sql, "key": "by_app"}
    if kind == "query_string":
        a, b = EVENT_PAIRS[int(rng.integers(0, len(EVENT_PAIRS)))]
        body = {
            "query": {
                "bool": {
                    "must": [
                        {
                            "query_string": {
                                "query": f"evt={a} OR evt={b}",
                                "default_field": "parsed_generic.log_event",
                            }
                        }
                    ],
                    "filter": [span],
                }
            },
            "size": 0,
            "aggs": {"by_space": {"terms": {"field": "`@cf.space`", "size": 200}}},
        }
        sql = (
            f'SELECT "@cf.space" AS k, count(*) AS n FROM docs WHERE {where} '
            f"AND regexp_matches(parsed_generic.log_event, '(^|\\s)evt=({a}|{b})(\\s|$)') "
            f'AND "@cf.space" IS NOT NULL GROUP BY 1'
        )
        return {"kind": kind, "body": body, "sql": sql, "key": "by_space"}
    if kind == "date_histogram":
        body = {
            "runtime_mappings": {
                "ts": {"type": "date", "script": {"source": "doc['timestamp'].value / 1000"}}
            },
            "query": span,
            "size": 0,
            "aggs": {"per_day": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
        }
        sql = (
            "SELECT strftime(to_timestamp(\"timestamp\" / 1000), '%Y-%m-%d') AS k, count(*) AS n "
            f"FROM docs WHERE {where} GROUP BY 1"
        )
        return {"kind": kind, "body": body, "sql": sql, "key": "per_day"}
    if kind == "top_hits":
        n = TOP_N
        body = {
            "query": {"bool": {"filter": [span]}},
            "sort": [{"timestamp": "desc"}, {"doc_id": "asc"}],
            "size": n,
            "_source": ["doc_id", "timestamp"],
        }
        sql = (
            f'SELECT doc_id, "timestamp" FROM docs WHERE {where} '
            f'ORDER BY "timestamp" DESC, doc_id ASC LIMIT {n}'
        )
        return {"kind": kind, "body": body, "sql": sql}
    if kind == "esql_stats":
        a, b = _day(base_ms, d0), _day(base_ms, d1)
        query = (
            f'FROM logs | WHERE event_date >= "{a}" AND event_date < "{b}" '
            "| STATS n = COUNT(*), last = MAX(timestamp) BY event_date | SORT event_date"
        )
        sql = (
            'SELECT event_date, count(*) AS n, max("timestamp") AS last FROM docs '
            f"WHERE event_date >= '{a}' AND event_date < '{b}' GROUP BY 1 ORDER BY 1"
        )
        return {"kind": kind, "esql": query, "sql": sql}
    raise ValueError(kind)


def request_cycles(seed: int, base_ms: int, days: int):
    """Endless sequence of request cycles, one request of each kind."""
    rng = np.random.default_rng(seed + 7)
    while True:
        yield [make_request(k, rng, base_ms, days) for k in KINDS]


def build(req: dict, frame):
    """The engine call: a lazy frame for the request (the compile step)."""
    if "esql" in req:
        from cga_kinesis_to_elasticsearch_spark.operators.esql import run_esql

        return run_esql(req["esql"], {"logs": frame})
    from cga_kinesis_to_elasticsearch_spark.operators.querydsl import run_search_body

    return run_search_body(frame, req["body"])


def normalise_response(req: dict, rows) -> list:
    if "key" in req:
        key = req["key"]
        return sorted(
            (r[key], int(r["doc_count"]))
            for r in rows
            if r["section"] == "aggs" and r["doc_count"]
        )
    if req["kind"] == "top_hits":
        return [(r["doc_id"], int(r["timestamp"])) for r in rows]
    return [(r["event_date"], int(r["n"]), int(r["last"])) for r in rows]


def normalise_sql(req: dict, rows: list[tuple]) -> list:
    if "key" in req:
        return sorted((k, int(n)) for k, n in rows)
    if req["kind"] == "top_hits":
        return [(d, int(t)) for d, t in rows]
    return [(d, int(n), int(last)) for d, n, last in rows]
