"""Direct unit tests for the keyed stateful functions
(streaming/stateful.py) via a fake GroupState: the per-key logic is plain
Python over pandas and fully testable without a cluster.
"""

from __future__ import annotations

import pandas as pd

from gmall_flink_200621_spark.streaming.stateful import (
    BLACKLIST_THRESHOLD,
    ORDER_TIMEOUT_S,
    PAY_WAIT_S,
    RECEIPT_WAIT_S,
    _blacklist_fn,
    _login_fail_fn,
    _order_timeout_fn,
    _pay_receipt_fn,
)


# ----------------------------------------------------------------- fakes


class FakeGroupState:
    """Just enough of pyspark.sql.streaming.state.GroupState for the
    applyInPandasWithState functions."""

    def __init__(self, wm_ms=0, timed_out=False):
        self._v = None
        self._wm = wm_ms
        self._timed_out = timed_out
        self.timeout_ts = None
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        assert self._v is not None
        return self._v

    @property
    def hasTimedOut(self):
        return self._timed_out

    def update(self, v):
        self._v = tuple(v)
        self.removed = False

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_ts = ms

    def getCurrentWatermarkMs(self):
        return self._wm


def _rows(fn, key, pdf, st):
    """All output rows of one call of `fn` on one pandas batch."""
    out = list(fn(key, iter([pdf]), st))
    return pd.concat(out) if out else pd.DataFrame()


# ------------------------------------------------------------ login fail


class TestLoginFailFn:
    def test_consecutive_fail_pair_alerts(self):
        pdf = pd.DataFrame(
            {
                "ts_s": [100, 200, 300, 5000, 5100],
                "event_id": [1, 2, 3, 4, 5],
                "event_type": ["error", "error", "view", "error", "error"],
            }
        )
        rows = _rows(_login_fail_fn, (7,), pdf, FakeGroupState())
        got = set(map(tuple, rows[["first_fail_ts_s", "second_fail_ts_s"]].values.tolist()))
        assert got == {(100, 200), (5000, 5100)}

    def test_state_carries_across_batches(self):
        st = FakeGroupState()
        b1 = pd.DataFrame({"ts_s": [100], "event_id": [1], "event_type": ["error"]})
        b2 = pd.DataFrame({"ts_s": [150], "event_id": [2], "event_type": ["error"]})
        assert list(_login_fail_fn((7,), iter([b1]), st)) == []
        out = pd.concat(_login_fail_fn((7,), iter([b2]), st))
        assert out.iloc[0].first_fail_ts_s == 100 and out.iloc[0].second_fail_ts_s == 150


# --------------------------------------------------------- order timeout


class TestOrderTimeoutFn:
    def test_pay_within_timeout(self):
        st = FakeGroupState()
        pdf = pd.DataFrame({"ts_s": [100, 500], "event_type": ["click", "purchase"]})
        rows = _rows(_order_timeout_fn, (1,), pdf, st)
        assert rows.iloc[0].status == "payed"
        # the pay cancels the pending create: no state, no timeout left
        assert st.removed and st.timeout_ts is None

    def test_expired_timer_emits_timeout_once(self):
        st = FakeGroupState()
        pdf = pd.DataFrame({"ts_s": [100], "event_type": ["click"]})
        assert list(_order_timeout_fn((1,), iter([pdf]), st)) == []
        assert st.timeout_ts == (100 + ORDER_TIMEOUT_S) * 1000
        fired = FakeGroupState(wm_ms=st.timeout_ts, timed_out=True)
        fired._v = st._v
        out = pd.concat(_order_timeout_fn((1,), iter([]), fired))
        assert list(out.status) == ["timeout"]
        assert fired.removed
        # a second firing finds the state cleared -> no-op
        again = FakeGroupState(wm_ms=10**15, timed_out=True)
        assert list(_order_timeout_fn((1,), iter([]), again)) == []

    def test_two_creates_then_pay(self):
        """A second create supersedes the pending one and emits it as
        'timeout'."""
        pdf = pd.DataFrame({"ts_s": [100, 200, 300], "event_type": ["click", "click", "purchase"]})
        rows = _rows(_order_timeout_fn, (1,), pdf, FakeGroupState())
        got = list(map(tuple, rows[["create_ts_s", "pay_ts_s", "status"]].fillna(-1).values.tolist()))
        assert got == [(100, -1, "timeout"), (200, 300, "payed")]


# ------------------------------------------------------------- blacklist


class TestBlacklistFn:
    def test_warning_once_then_suppression_and_day_reset(self):
        day0, day1 = 1000, 1000 + 86400
        pdf = pd.DataFrame({"ts_s": [day0, day0 + 1, day0 + 2, day1]})
        rows = _rows(_blacklist_fn, (9, 3), pdf, FakeGroupState())
        tags = list(rows.tag)
        # threshold=2: first click passes, second warns, third suppressed,
        # next-day click passes again (daily reset)
        assert BLACKLIST_THRESHOLD == 2
        assert tags == ["click", "blacklist_warning", "click"]
        assert list(rows.day_s) == [0, 0, 86400]


# ----------------------------------------------------------- pay receipt


class TestPayReceiptFn:
    def test_portable_fn_same_semantics(self):
        """Two pays before a receipt lose nothing: list buffers, FIFO
        match, asymmetric per-entry deadlines."""
        pdf = pd.DataFrame({"ts_s": [100, 200, 300], "side": ["pay", "pay", "receipt"]})
        st = FakeGroupState()
        out = pd.concat(_pay_receipt_fn((5,), iter([pdf]), st))
        assert list(map(tuple, out[["pay_ts_s", "receipt_ts_s", "tag"]].values.tolist())) == [
            (100, 300, "matched")
        ]
        # pending second pay arms the timeout at its pay deadline
        assert st.timeout_ts == (200 + PAY_WAIT_S) * 1000
        # watermark passes the deadline -> timeout path emits it
        st2 = FakeGroupState(wm_ms=(200 + PAY_WAIT_S) * 1000, timed_out=True)
        st2._v = st._v
        fired = pd.concat(_pay_receipt_fn((5,), iter([]), st2))
        assert list(map(tuple, fired[["pay_ts_s", "tag"]].values.tolist())) == [(200, "payButNoReceipt")]
        assert st2.removed

    def test_portable_fn_receipt_deadline(self):
        pdf = pd.DataFrame({"ts_s": [100], "side": ["receipt"]})
        st = FakeGroupState()
        assert list(_pay_receipt_fn((5,), iter([pdf]), st)) == []
        assert st.timeout_ts == (100 + RECEIPT_WAIT_S) * 1000

    def test_asymmetric_waits(self):
        """A lone receipt expires after RECEIPT_WAIT_S, not PAY_WAIT_S."""
        st = FakeGroupState()
        pdf = pd.DataFrame({"ts_s": [100], "side": ["receipt"]})
        assert list(_pay_receipt_fn((5,), iter([pdf]), st)) == []
        early = (100 + RECEIPT_WAIT_S) * 1000
        fired = FakeGroupState(wm_ms=early, timed_out=True)
        fired._v = st._v
        out = pd.concat(_pay_receipt_fn((5,), iter([]), fired))
        assert list(out.tag) == ["receiptButNoPay"]
