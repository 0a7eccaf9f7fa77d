"""Scalar helpers + the events→reference-shape mapping (SURVEY.md §2.10, §5).

The reference's five CSV inputs (user-behavior / ad-click / login / order /
receipt — FIXTURES.md) don't exist in the driver's testdata; its `events`
table (event_id, ts, user_id, event_type∈{view,click,purchase,signup,error},
value, props='{"k": int}') stands in for all of them. The mapping below is
the single place that convention lives — every pipeline and every DuckDB
oracle derives from the same definitions:

| reference shape | events mapping |
|---|---|
| UserBehavior.behavior=='pv'    | event_type == 'view'                  |
| UserBehavior.item_id           | item_k  = json props.k (0..99)        |
| HotUrl url                     | url_k   = 'u' || (props.k % 20)       |
| AdClick ad_id                  | ad_k    = props.k % 10                |
| AdClick province               | province= 'p' || (user_id % 5)        |
| Market channel                 | channel = 'ch' || (user_id % 4)       |
| LoginEvent fail                | event_type == 'error'                 |
| OrderEvent create / pay        | 'click' (intent) / 'purchase' (pay)   |
| ReceiptEvent                   | 'signup' (confirmation), key user_id  |

All scalar work is built-in `pyspark.sql.functions` (JVM-side, codegen'd);
no Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------- events mapping


def item_k(props: str = "props") -> Column:
    """Item-id analog: the JSON prop k (0..99)."""
    return F.get_json_object(F.col(props), "$.k").cast("int")


# url_k's key domain size — shared by anything that sizes state partitioning
# to the URL key space (e.g. late_data's stateful-stream shuffle width)
URL_KEY_DOMAIN = 20


def url_k(props: str = "props") -> Column:
    """URL analog: 'u<k%URL_KEY_DOMAIN>'."""
    return F.concat(F.lit("u"), (item_k(props) % URL_KEY_DOMAIN).cast("string"))


def ad_k(props: str = "props") -> Column:
    """Ad-id analog: k % 10."""
    return (item_k(props) % 10).cast("int")


def province(user_id: str = "user_id") -> Column:
    """Province analog: 'p<user_id%5>'."""
    return F.concat(F.lit("p"), (F.col(user_id) % 5).cast("string"))


def channel(user_id: str = "user_id") -> Column:
    """Marketing-channel analog: 'ch<user_id%4>'."""
    return F.concat(F.lit("ch"), (F.col(user_id) % 4).cast("string"))


def epoch_s(ts: str = "ts") -> Column:
    """Event time as epoch seconds (BIGINT) — the canonical output form for
    timestamps so Spark(µs) and DuckDB(ns) value-hash identically."""
    return F.col(ts).cast("long")
