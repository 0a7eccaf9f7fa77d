"""DuckDB oracle SQL — one entry per query in `plans/pipelines.py` (and the
other plan modules), same column names, same deterministic tie-breaks.

Sliding-window replication: Spark's `window(ts, size, slide)` assigns each
row to size/slide epoch-aligned windows; in ANSI SQL we cross-join a
`generate_series(1, size/slide)` and compute
`window_end_s = epoch(time_bucket(slide, ts)) + j*slide_s`, which matches
Spark's `window.end` exactly (both align to the 1970 epoch).

Timestamps: every output timestamp is epoch seconds
(`CAST(floor(epoch(ts)) AS BIGINT)`), matching Spark's `cast(ts AS LONG)` —
truncation to whole seconds is unaffected by the parquet-ns vs Spark-µs
physical precision difference.
"""

from __future__ import annotations

from .pipelines import (
    BLACKLIST_THRESHOLD,
    TOP_N,
)


HOT_ITEMS = f"""
WITH e AS (
  SELECT CAST(props->>'k' AS INT) AS item_k, ts
  FROM events WHERE event_type = 'view'
), counts AS (
  SELECT CAST(floor(epoch(time_bucket(INTERVAL 300 seconds, ts))) AS BIGINT) + j * 300 AS window_end_s,
         item_k, count(*) AS cnt
  FROM e, generate_series(1, 12) AS gs(j)
  GROUP BY 1, 2
), ranked AS (
  SELECT window_end_s, item_k, cnt,
         CAST(row_number() OVER (PARTITION BY window_end_s ORDER BY cnt DESC, item_k ASC) AS INT) AS rank
  FROM counts
)
SELECT window_end_s, item_k, cnt, rank FROM ranked WHERE rank <= {TOP_N}
"""

HOT_URLS = f"""
WITH e AS (
  SELECT 'u' || CAST(CAST(props->>'k' AS INT) % 20 AS VARCHAR) AS url_k, ts
  FROM events WHERE event_type = 'click'
), counts AS (
  SELECT CAST(floor(epoch(time_bucket(INTERVAL 300 seconds, ts))) AS BIGINT) + j * 300 AS window_end_s,
         url_k, count(*) AS cnt
  FROM e, generate_series(1, 2) AS gs(j)
  GROUP BY 1, 2
), ranked AS (
  SELECT window_end_s, url_k, cnt,
         CAST(row_number() OVER (PARTITION BY window_end_s ORDER BY cnt DESC, url_k ASC) AS INT) AS rank
  FROM counts
)
SELECT window_end_s, url_k, cnt, rank FROM ranked WHERE rank <= {TOP_N}
"""

PAGE_VIEW = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL 3600 seconds, ts))) AS BIGINT) + 3600 AS window_end_s,
       count(*) AS pv
FROM events WHERE event_type = 'view'
GROUP BY 1
"""

UV_EXACT = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL 3600 seconds, ts))) AS BIGINT) + 3600 AS window_end_s,
       count(DISTINCT user_id) AS uv
FROM events WHERE event_type = 'view'
GROUP BY 1
"""

# uv_approx: the estimate is engine-specific, but its error bound is not —
# the query emits exact uv (hash-checked) + est_ok, which must be TRUE
UV_APPROX = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL 3600 seconds, ts))) AS BIGINT) + 3600 AS window_end_s,
       count(DISTINCT user_id) AS uv,
       TRUE AS est_ok
FROM events WHERE event_type = 'view'
GROUP BY 1
"""

MARKET_BY_CHANNEL = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL 900 seconds, ts))) AS BIGINT) + j * 900 AS window_end_s,
       'ch' || CAST(user_id % 4 AS VARCHAR) AS channel,
       event_type AS behavior,
       count(*) AS cnt
FROM events, generate_series(1, 4) AS gs(j)
WHERE event_type <> 'error'
GROUP BY 1, 2, 3
"""

AD_CLICK_BY_PROVINCE = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL 1200 seconds, ts))) AS BIGINT) + j * 1200 AS window_end_s,
       'p' || CAST(user_id % 5 AS VARCHAR) AS province,
       count(*) AS cnt
FROM events, generate_series(1, 3) AS gs(j)
WHERE event_type = 'click'
GROUP BY 1, 2
"""

AD_CLICK_BLACKLIST = f"""
SELECT user_id,
       CAST(CAST(props->>'k' AS INT) % 10 AS INT) AS ad_k,
       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
       count(*) AS click_cnt
FROM events WHERE event_type = 'click'
GROUP BY 1, 2, 3
HAVING count(*) >= {BLACKLIST_THRESHOLD}
"""

AD_CLICKS_FILTERED = f"""
WITH clicks AS (
  SELECT event_id, user_id,
         CAST(CAST(props->>'k' AS INT) % 10 AS INT) AS ad_k,
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events WHERE event_type = 'click'
), bl AS (
  SELECT user_id, ad_k, day_s FROM clicks GROUP BY 1, 2, 3 HAVING count(*) >= {BLACKLIST_THRESHOLD}
)
SELECT c.event_id, c.user_id, c.ad_k, c.ts_s
FROM clicks c ANTI JOIN bl ON c.user_id = bl.user_id AND c.ad_k = bl.ad_k AND c.day_s = bl.day_s
"""

LOGIN_FAIL = """
WITH seq AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       CAST(floor(epoch(prev_ts)) AS BIGINT) AS first_fail_ts_s,
       CAST(floor(epoch(ts)) AS BIGINT) AS second_fail_ts_s
FROM seq
WHERE event_type = 'error' AND prev_type = 'error' AND ts <= prev_ts + INTERVAL 1 hour
"""

LOGIN_FAIL_N3 = """
WITH seq AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_type,
         lag(event_type, 1) OVER w AS m1,
         lag(event_type, 2) OVER w AS m2,
         lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w AS t1,
         lag(CAST(floor(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, t2 AS ts_0, t1 AS ts_1, ts_s AS ts_2
FROM seq
WHERE event_type = 'error' AND m1 = 'error' AND m2 = 'error' AND ts_s - t2 <= 86400
"""

LOGIN_FAIL_RELAXED = """
WITH fails AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w AS t1,
         lag(CAST(floor(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM events WHERE event_type = 'error'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, t2 AS ts_0, t1 AS ts_1, ts_s AS ts_2
FROM fails
WHERE t2 IS NOT NULL AND ts_s - t2 <= 86400
"""

BROWSE_ABANDON = """
WITH e AS (
  SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_s, event_type,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
           PARTITION BY user_id ORDER BY ts_s
           RANGE BETWEEN 1 FOLLOWING AND 86400 FOLLOWING
         ) AS n_purchases_after
  FROM e
)
SELECT user_id, event_id, ts_s
FROM flagged
WHERE event_type = 'view' AND n_purchases_after = 0
"""

LOGIN_FAIL_RUN = """
WITH runs AS (
  SELECT user_id, ts, event_id, event_type,
         count(CASE WHEN event_type <> 'error' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_id
  FROM events
)
SELECT user_id,
       min(CAST(floor(epoch(ts)) AS BIGINT)) AS run_start_ts_s,
       count(*) AS n_fails
FROM runs WHERE event_type = 'error'
GROUP BY user_id, run_id
HAVING count(*) >= 2
   AND max(CAST(floor(epoch(ts)) AS BIGINT)) - min(CAST(floor(epoch(ts)) AS BIGINT)) <= 7200
"""

# DuckDB's native ASOF JOIN oracles the sorted-union carry-forward
# implementation; the right side is pre-deduped per (key, ts) with max id
# because ASOF tie-breaking among equal timestamps is unspecified
LAST_CLICK_BEFORE_PURCHASE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, CAST(floor(epoch(ts)) AS BIGINT) AS purchase_ts_s
  FROM events WHERE event_type = 'purchase'
), c0 AS (
  SELECT user_id, event_id AS click_id, CAST(floor(epoch(ts)) AS BIGINT) AS click_ts_s
  FROM events WHERE event_type = 'click'
), c AS (
  SELECT user_id, click_ts_s, max(click_id) AS click_id FROM c0 GROUP BY 1, 2
)
SELECT p.user_id, p.purchase_id, p.purchase_ts_s, c.click_id, c.click_ts_s
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND c.click_ts_s <= p.purchase_ts_s
"""

ORDER_TIMEOUT = """
WITH creates AS (
  SELECT event_id AS create_id, user_id, ts AS create_ts FROM events WHERE event_type = 'click'
), pays AS (
  SELECT user_id AS p_user, ts AS pay_ts FROM events WHERE event_type = 'purchase'
), joined AS (
  SELECT c.create_id, c.user_id, c.create_ts, min(p.pay_ts) AS pay_ts
  FROM creates c
  LEFT JOIN pays p
    ON c.user_id = p.p_user AND p.pay_ts >= c.create_ts AND p.pay_ts <= c.create_ts + INTERVAL 15 minutes
  GROUP BY 1, 2, 3
)
SELECT user_id,
       CAST(floor(epoch(create_ts)) AS BIGINT) AS create_ts_s,
       CAST(floor(epoch(pay_ts)) AS BIGINT) AS pay_ts_s,
       CASE WHEN pay_ts IS NOT NULL THEN 'payed' ELSE 'timeout' END AS status
FROM joined
"""

ORDER_RECEIPT_JOIN = """
SELECT p.user_id,
       p.event_id AS pay_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS pay_ts_s,
       r.event_id AS receipt_id,
       CAST(floor(epoch(r.ts)) AS BIGINT) AS receipt_ts_s
FROM events p
JOIN events r
  ON p.user_id = r.user_id AND r.event_type = 'signup'
 AND r.ts >= p.ts - INTERVAL 1 hour AND r.ts <= p.ts + INTERVAL 2 hours
WHERE p.event_type = 'purchase'
"""

ORDER_RECEIPT_RECONCILE = """
WITH pays AS (
  SELECT user_id, event_id AS pay_id, ts AS pay_ts FROM events WHERE event_type = 'purchase'
), receipts AS (
  SELECT user_id, event_id AS receipt_id, ts AS receipt_ts FROM events WHERE event_type = 'signup'
), matched AS (
  SELECT p.user_id, p.pay_id, p.pay_ts, r.receipt_id, r.receipt_ts
  FROM pays p JOIN receipts r
    ON p.user_id = r.user_id
   AND r.receipt_ts >= p.pay_ts - INTERVAL 1 hour AND r.receipt_ts <= p.pay_ts + INTERVAL 2 hours
)
SELECT user_id, pay_id,
       CAST(floor(epoch(pay_ts)) AS BIGINT) AS pay_ts_s,
       receipt_id,
       CAST(floor(epoch(receipt_ts)) AS BIGINT) AS receipt_ts_s,
       'matched' AS tag
FROM matched
UNION ALL
SELECT p.user_id, p.pay_id, CAST(floor(epoch(p.pay_ts)) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'payButNoReceipt'
FROM pays p ANTI JOIN matched m ON p.pay_id = m.pay_id
UNION ALL
SELECT r.user_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       r.receipt_id, CAST(floor(epoch(r.receipt_ts)) AS BIGINT), 'receiptButNoPay'
FROM receipts r ANTI JOIN matched m ON r.receipt_id = m.receipt_id
"""

PIPELINE_ORACLES: dict[str, str] = {
    "hot_items": HOT_ITEMS,
    "hot_items_sql": HOT_ITEMS,
    "hot_urls": HOT_URLS,
    "page_view": PAGE_VIEW,
    "page_view_salted": PAGE_VIEW,  # salted two-phase count ≡ plain PV
    "uv_exact": UV_EXACT,
    "uv_approx": UV_APPROX,
    "market_by_channel": MARKET_BY_CHANNEL,
    "ad_click_by_province": AD_CLICK_BY_PROVINCE,
    "ad_click_blacklist": AD_CLICK_BLACKLIST,
    "ad_clicks_filtered": AD_CLICKS_FILTERED,
    "login_fail": LOGIN_FAIL,
    "login_fail_n3": LOGIN_FAIL_N3,
    "login_fail_relaxed": LOGIN_FAIL_RELAXED,
    "login_fail_run": LOGIN_FAIL_RUN,
    "browse_abandon": BROWSE_ABANDON,
    "last_click_before_purchase": LAST_CLICK_BEFORE_PURCHASE,
    "order_timeout": ORDER_TIMEOUT,
    "order_receipt_join": ORDER_RECEIPT_JOIN,
    "order_receipt_reconcile": ORDER_RECEIPT_RECONCILE,
}
