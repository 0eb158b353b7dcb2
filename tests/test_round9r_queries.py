"""Independent Python references, batch 17: the sketch family
(HyperLogLog, KMV, histogram quantiles, bottom-k sample quantiles)
re-implemented from the algorithm definitions, and two streaming
stateful operators replayed by a third implementation (pure-python
event-order fold) — independent of BOTH the Structured Streaming
engine and the batch-twin SQL oracle."""

import hashlib
import math
import os
import sys
from collections import defaultdict

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simpletasks_data_spark import queries as Q  # noqa: E402

SF = "/root/testdata/sf0.001"


def _rhu(x, digits):
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_sketch_hll_distinct_matches_python(spark):
    got = {
        r["l_returnflag"]: r["est_distinct"]
        for r in Q.queries()["sketch_hll_distinct"](spark, SF).collect()
    }
    li = pd.read_parquet(f"{SF}/lineitem.parquet", columns=["l_returnflag", "l_partkey"])
    regs = defaultdict(dict)  # flag -> bucket -> max rho
    for r in li.itertuples():
        h = _h60(str(int(r.l_partkey)))
        bucket, w = h % 256, h >> 8
        # oracle: 53 - length(ltrim(bin(w),'0')) == 53 - bit_length(w)
        rho = 53 if w == 0 else 53 - w.bit_length()
        regs[r.l_returnflag][bucket] = max(regs[r.l_returnflag].get(bucket, 0), rho)
    alpha = 0.7213 / (1.0 + 1.079 / 256)
    want = {}
    for flag, br in regs.items():
        z = sum(2.0 ** -v for v in br.values()) + (256 - len(br))
        v = float(256 - len(br))
        raw = alpha * 256 * 256 / z
        est = 256.0 * math.log(256.0 / v) if (raw <= 640.0 and v > 0) else raw
        want[flag] = _rhu(est, 4)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, k


def test_sketch_kmv_distinct_matches_python(spark):
    got = {
        r["o_orderpriority"]: (r["n_kept"], r["est_distinct"])
        for r in Q.queries()["sketch_kmv_distinct"](spark, SF).collect()
    }
    o = pd.read_parquet(f"{SF}/orders.parquet", columns=["o_orderpriority", "o_custkey"])
    us = defaultdict(set)
    for r in o.itertuples():
        us[r.o_orderpriority].add(_h60(str(int(r.o_custkey))) / 1152921504606846976.0)
    want = {}
    for pr, vals in us.items():
        kept = sorted(vals)[:64]
        est = float(len(kept)) if len(kept) < 64 else 63.0 / max(kept)
        want[pr] = (len(kept), _rhu(est, 4))
    assert set(got) == set(want)
    for k, (n, est) in want.items():
        assert got[k][0] == n and abs(got[k][1] - est) < 1e-6, k


def test_sketch_histogram_quantile_matches_python(spark):
    got = {
        r["o_orderpriority"]: (r["p50"], r["p95"])
        for r in Q.queries()["sketch_histogram_quantile"](spark, SF).collect()
    }
    o = pd.read_parquet(f"{SF}/orders.parquet", columns=["o_orderpriority", "o_totalprice"])
    bins = defaultdict(lambda: defaultdict(int))
    for r in o.itertuples():
        bins[r.o_orderpriority][int(math.floor(r.o_totalprice / 1000.0))] += 1
    want = {}
    for pr, bc in bins.items():
        n = sum(bc.values())
        est = {}
        for name, q in (("p50", 0.5), ("p95", 0.95)):
            cum = 0
            for b in sorted(bc):
                cum += bc[b]
                if cum >= q * n:
                    est[name] = _rhu((b + 1) * 1000.0, 4)
                    break
        want[pr] = (est["p50"], est["p95"])
    assert got == want


def test_sketch_sample_quantiles_matches_python(spark):
    got = {
        r["p"]: (r["est_value"], r["k_sample"])
        for r in Q.queries()["sketch_sample_quantiles"](spark, SF).collect()
    }
    li = pd.read_parquet(
        f"{SF}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_extendedprice"],
    )
    keyed = [
        (float(r.l_extendedprice), _h60(f"{int(r.l_orderkey)}:{int(r.l_linenumber)}"))
        for r in li.itertuples()
    ]
    sample = sorted(keyed, key=lambda t: t[1])[:512]
    ranked = sorted(sample)  # by (_v, _h)
    k = len(ranked)
    want = {}
    for p in (0.1, 0.25, 0.5, 0.75, 0.9):
        rn = max(1, int(math.ceil(p * k)))
        want[p] = (ranked[rn - 1][0], k)
    assert got == want


def _events():
    ev = pd.read_parquet(f"{SF}/events.parquet")
    return ev.sort_values(["user_id", "ts", "event_id"])


def test_streaming_running_totals_matches_python(spark):
    """Third implementation of the per-user running fold (the engine is
    applyInPandasWithState, the oracle a SQL window): a python loop
    in the same (ts, event_id) order must land on the identical
    cumulative float trajectory."""
    got = {
        r["event_id"]: (r["running_n"], r["running_total"])
        for r in Q.queries()["streaming_running_totals"](spark, SF).collect()
    }
    want = {}
    for uid, g in _events().groupby("user_id", sort=False):
        n, tot = 0, 0.0
        for r in g.itertuples():
            n += 1
            tot = tot + float(r.value)
            want[int(r.event_id)] = (n, _rhu(tot, 4))
    assert set(got) == set(want)
    for k, (n, tot) in want.items():
        assert got[k][0] == n, k
        assert abs(got[k][1] - tot) < 1e-6, k


def test_streaming_sessions_matches_python(spark):
    """Python sessionizer (1800 s gap, end = last event + 30 min) vs the
    Structured Streaming session-window run-to-completion."""
    got = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["total_value"])
        for r in Q.queries()["streaming_sessions"](spark, SF).collect()
    }
    want = {}
    for uid, g in _events().groupby("user_id", sort=False):
        cur = None
        for r in g.itertuples():
            ts = r.ts.to_pydatetime()
            if cur is None or (ts - cur["last"]).total_seconds() > 1800:
                if cur is not None:
                    want[(uid, cur["start"])] = (
                        cur["last"] + pd.Timedelta(minutes=30),
                        cur["n"],
                        _rhu(cur["tot"], 4),
                    )
                cur = {"start": ts, "last": ts, "n": 0, "tot": 0.0}
            cur["last"] = ts
            cur["n"] += 1
            cur["tot"] = cur["tot"] + float(r.value)
        want[(uid, cur["start"])] = (
            cur["last"] + pd.Timedelta(minutes=30),
            cur["n"],
            _rhu(cur["tot"], 4),
        )
    assert set(got) == set(want)
    for k, (end, n, tot) in want.items():
        g = got[k]
        assert g[0] == end and g[1] == n, k
        assert abs(g[2] - tot) < 1e-6, k
