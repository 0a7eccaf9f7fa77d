"""Custom stateful operators — the reference's KeyedProcessFunction surface
(SURVEY.md §2.9) as `applyInPandasWithState` functions: state is a tuple,
timeouts are one GroupStateTimeout per key, which is what the reference
pipelines need.

Parity map:
- login_fail_stream    ← LoginFailApp2.java:59-99 (rolling 2-fail detector,
  C4) + LoginFailAppWithCep.java:61-69 (times(2).consecutive().within)
- order_timeout_stream ← OrderTimeoutAppWithState.java:57-111 (ValueState +
  event-time timer at create+timeout, J3) — timers with cancellation (W10)
- blacklist_stream     ← AdClickByProvinceApp.java:112-180 (per-(user,ad)
  daily counter, emit-once warning at threshold, A7/A8)
- pay_receipt_stream   ← OrderReceiptAppWithConnect.java:72-162 (two-stream
  connect: buffer-or-match + timeout side outputs, J2) — the two streams
  arrive as one tagged union, the engine's side-output convention in reverse

Side outputs (OutputTag) become a `tag` column; callers fan out with
filters. Flink's `deleteEventTimeTimer` cancellation is reproduced by
dropping the pending entry, so a later timeout finds nothing to emit.

These run per-key with arbitrary state, so they're the slow path — every
pipeline that *can* be a windowed agg/join uses the declarative plan
instead (plans/pipelines.py); this module exists for the semantics Spark
can't express declaratively (per-event timers, emit-once guards, CEP).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

LOGIN_FAIL_GAP_S = 3600  # scaled to testdata density (reference: 2 s)
ORDER_TIMEOUT_S = 900  # reference: 15 min (OrderTimeoutAppWithCep.java:55)
BLACKLIST_THRESHOLD = 2  # reference: 100/day (AdClickByProvinceApp.java:51)
PAY_WAIT_S = 7200  # receipt may lag pay by ≤2h (batch plan's band)
RECEIPT_WAIT_S = 3600

LOGIN_FAIL_OUTPUT = "user_id LONG, first_fail_ts_s LONG, second_fail_ts_s LONG"
ORDER_TIMEOUT_OUTPUT = "user_id LONG, create_ts_s LONG, pay_ts_s LONG, status STRING"
BLACKLIST_OUTPUT = "user_id LONG, ad_k INT, day_s LONG, tag STRING"
PAY_RECEIPT_OUTPUT = "user_id LONG, pay_ts_s LONG, receipt_ts_s LONG, tag STRING"


def _login_fail_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """LoginFailApp2 semantics (rolling consecutive-fail pair detector)."""
    if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
        state.remove()
        return
    (user_id,) = key
    prev_type, prev_ts = state.get if state.exists else ("", 0)
    out = []
    for pdf in pdf_iter:
        for r in pdf.sort_values(["ts_s", "event_id"]).itertuples():
            if r.event_type == "error":
                if prev_type == "error" and r.ts_s - prev_ts <= LOGIN_FAIL_GAP_S:
                    out.append((user_id, prev_ts, r.ts_s))
                prev_type, prev_ts = "error", int(r.ts_s)
            else:
                prev_type, prev_ts = str(r.event_type), int(r.ts_s)
    state.update((prev_type, prev_ts))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "first_fail_ts_s", "second_fail_ts_s"])


def _order_timeout_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """OrderTimeoutAppWithState semantics on a watermark-driven timeout:
    pending create expires to 'timeout' when the event-time watermark
    passes create+timeout (the reference's event-time timer)."""
    (user_id,) = key
    cols = ["user_id", "create_ts_s", "pay_ts_s", "status"]
    if state.hasTimedOut:
        create_ts = state.get[0] if state.exists else None
        state.remove()
        if create_ts is not None:
            yield pd.DataFrame([(user_id, create_ts, None, "timeout")], columns=cols)
        return
    pending = state.get[0] if state.exists else None
    out = []
    for pdf in pdf_iter:
        for r in pdf.sort_values("ts_s").itertuples():
            if r.event_type == "click":  # create-analog
                if pending is not None:
                    out.append((user_id, pending, None, "timeout"))  # superseded
                pending = int(r.ts_s)
            elif r.event_type == "purchase":  # pay-analog
                if pending is not None:
                    status = "payed" if r.ts_s - pending <= ORDER_TIMEOUT_S else "payed timeout"
                    out.append((user_id, pending, int(r.ts_s), status))
                    pending = None
                else:
                    out.append((user_id, None, int(r.ts_s), "payed but no create"))
    if pending is not None:
        state.update((pending,))
        state.setTimeoutTimestamp((pending + ORDER_TIMEOUT_S) * 1000)
    else:
        state.remove()
    if out:
        yield pd.DataFrame(out, columns=cols)

def _blacklist_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """AdClickByProvinceApp blacklist semantics: per-(user,ad) daily counter,
    emit-once warning at the cap, suppression after, day rollover resets."""
    user_id, ad_k = key
    st = state.get if state.exists else (None, 0, False)
    day_s, cnt, warned = st
    out = []
    for pdf in pdf_iter:
        for r in pdf.sort_values("ts_s").itertuples():
            d = int(r.ts_s - (r.ts_s % 86400))
            if d != day_s:
                day_s, cnt, warned = d, 0, False  # daily TTL reset (the midnight timer)
            cnt += 1
            if cnt == BLACKLIST_THRESHOLD and not warned:
                out.append((user_id, ad_k, d, "blacklist_warning"))
                warned = True
            elif not warned:
                out.append((user_id, ad_k, d, "click"))
            # else: suppressed (P9 dynamic filter)
    state.update((int(day_s), int(cnt), bool(warned)))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "ad_k", "day_s", "tag"])


def _pay_receipt_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """OrderReceiptAppWithConnect semantics on a tagged union, FIFO list
    buffers per side. The reference keys by unique txId, so at most one
    event per side is pending (OrderReceiptAppWithConnect.java:75-84);
    keyed by user_id a second same-side event is normal (two purchases
    before any signup) and must never overwrite the pending one: every
    event either matches (earliest pending first) or times out to its
    diagnostic tag.
    The single GroupState timeout is armed at the EARLIEST pending
    deadline — pay+PAY_WAIT_S / receipt+RECEIPT_WAIT_S, asymmetric like
    the reference's pay+5s / receipt+3s — and on firing expires exactly
    the entries whose deadline the watermark passed, then re-arms."""
    (user_id,) = key
    cols = ["user_id", "pay_ts_s", "receipt_ts_s", "tag"]
    wm_ms = state.getCurrentWatermarkMs()
    st = state.get if state.exists else ([], [])
    pays = list(st[0]) if st[0] is not None else []
    receipts = list(st[1]) if st[1] is not None else []
    out = []
    if state.hasTimedOut:
        keep_p = []
        for p in pays:
            if (p + PAY_WAIT_S) * 1000 <= wm_ms:
                out.append((user_id, p, None, "payButNoReceipt"))
            else:
                keep_p.append(p)
        keep_r = []
        for r in receipts:
            if (r + RECEIPT_WAIT_S) * 1000 <= wm_ms:
                out.append((user_id, None, r, "receiptButNoPay"))
            else:
                keep_r.append(r)
        pays, receipts = keep_p, keep_r
    else:
        for pdf in pdf_iter:
            for r in pdf.sort_values("ts_s").itertuples():
                if r.side == "pay":
                    if receipts:
                        out.append((user_id, int(r.ts_s), receipts.pop(0), "matched"))
                    else:
                        pays.append(int(r.ts_s))
                else:
                    if pays:
                        out.append((user_id, pays.pop(0), int(r.ts_s), "matched"))
                    else:
                        receipts.append(int(r.ts_s))
    deadlines = [(p + PAY_WAIT_S) * 1000 for p in pays] + [
        (r + RECEIPT_WAIT_S) * 1000 for r in receipts
    ]
    if deadlines:
        state.update((pays, receipts))
        # a deadline already behind the watermark fires on the next batch
        state.setTimeoutTimestamp(max(min(deadlines), wm_ms + 1))
    else:
        state.remove()
    if out:
        yield pd.DataFrame(out, columns=cols)


def blacklist_stream(events: "DataFrame"):  # noqa: F821
    """_blacklist_fn semantics (A7/A8/P9) over the click stream."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions import scalars as S

    keyed = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", S.ad_k().alias("ad_k"), F.col("ts").cast("long").alias("ts_s"))
        .groupBy("user_id", "ad_k")
    )
    return keyed.applyInPandasWithState(
        _blacklist_fn,
        outputStructType=BLACKLIST_OUTPUT,
        stateStructType="day_s LONG, cnt LONG, warned BOOLEAN",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def pay_receipt_stream(events: "DataFrame"):  # noqa: F821
    """_pay_receipt_fn semantics (J2) over a tagged union of the pay
    ('purchase') and receipt ('signup') sides."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    tagged = events.filter(F.col("event_type").isin("purchase", "signup")).select(
        "user_id",
        "ts",
        F.col("ts").cast("long").alias("ts_s"),
        F.when(F.col("event_type") == "purchase", F.lit("pay")).otherwise(F.lit("receipt")).alias("side"),
    )
    return tagged.groupBy("user_id").applyInPandasWithState(
        _pay_receipt_fn,
        outputStructType=PAY_RECEIPT_OUTPUT,
        stateStructType="pays ARRAY<LONG>, receipts ARRAY<LONG>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def login_fail_stream(events: "DataFrame"):  # noqa: F821
    """_login_fail_fn semantics over a watermarked stream."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = events.select(
        "user_id", F.col("ts").cast("long").alias("ts_s"), "event_id", "event_type"
    ).groupBy("user_id")
    return keyed.applyInPandasWithState(
        _login_fail_fn,
        outputStructType=LOGIN_FAIL_OUTPUT,
        stateStructType="last_type STRING, last_ts LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def order_timeout_stream(events: "DataFrame"):  # noqa: F821
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "ts", F.col("ts").cast("long").alias("ts_s"), "event_type")
        .groupBy("user_id")
    )
    return keyed.applyInPandasWithState(
        _order_timeout_fn,
        outputStructType=ORDER_TIMEOUT_OUTPUT,
        stateStructType="create_ts LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
