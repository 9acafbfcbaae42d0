"""Seeded input generator for the propensity-ref workload.

propensity(out, seed) writes customer / orders / events parquet files with
the physical types of the repository's testdata tables (int64 keys,
TIMESTAMP(MICROS) without a UTC flag) and a planted label rule. The same
seed always gives byte-identical inputs. query-mix reads the sf0.1
testdata tables copied under perfbench/testdata instead.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# propensity-ref: the dates the catalog's core config fixes
EVENT_REF = np.datetime64("2024-01-15", "D")
LABEL_REF = np.datetime64("1997-06-30", "D")
LABEL_WINDOW_DAYS = 90
# a hundredth of the reference job (~106k customers, 5M events): see
# NOTES.md, "Scale"
PROPENSITY_CUSTOMERS = 1_000
EVENTS_PER_CUSTOMER = 50
ORDERS_PER_CUSTOMER = 7


def _us(day):
    return np.datetime64(day, "D").astype("datetime64[us]").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    os.makedirs(out, exist_ok=True)
    table = cols if isinstance(cols, pa.Table) else pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return {
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    }


def _orders(rng, keys, custkeys, days):
    n = len(keys)
    return {
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": np.asarray(custkeys, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(np.asarray(days, dtype=np.int64) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }


def _events(rng, user, etype, ts_us):
    n = len(user)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts_us),
        "user_id": np.asarray(user, dtype=np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array(np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n)]),
    }


def auc(score, label):
    """Rank-based area under the ROC curve (ties get their average rank)."""
    score, label = np.asarray(score, dtype=np.float64), np.asarray(label)
    order = np.argsort(score, kind="mergesort")
    ranks = np.empty(len(score))
    s = score[order]
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    pos = label == 1
    n_pos, n_neg = pos.sum(), (~pos).sum()
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg))


def propensity(out, seed):
    """Customer / orders / events for the four catalog stages.

    Each customer has a latent engagement that scales its event rate and
    purchase values. The label (an order inside the label window) is drawn
    from a planted logistic rule over the customer's own feature values, so
    the rule's AUC on the labelled rows is the best a linear model can reach.
    Returns the rule's AUC.
    """
    rng = np.random.default_rng(seed)
    n_cust = PROPENSITY_CUSTOMERS
    cust = _customer(rng, n_cust)
    engage = rng.standard_normal(n_cust)
    rate = np.exp(0.4 * engage)
    n_ev_c = rng.poisson(EVENTS_PER_CUSTOMER * rate / rate.mean())
    user = np.repeat(np.arange(n_cust), n_ev_c)
    n_ev = len(user)
    etype = rng.integers(0, 5, n_ev)
    ts = _us("2024-01-01") + rng.integers(0, 30 * DAY_US, n_ev)
    order = np.argsort(ts, kind="stable")
    user, etype, ts = user[order], etype[order], ts[order]
    ev = _events(rng, user, etype, ts)
    ev["value"] = np.round(ev["value"] * np.exp(0.3 * engage[user]), 2)
    # ~1% of event rows are exact duplicates, so the cleaning dedup has work
    dup = rng.choice(n_ev, n_ev // 100, replace=False)
    value = ev["value"]
    ev = pa.table(ev)
    _write(out, "events", pa.concat_tables([ev, ev.take(pa.array(dup))]))

    # the feature values the stage computes, per customer
    day = (ts // DAY_US).astype(np.int64)
    ref = (EVENT_REF - np.datetime64("1970-01-01")).astype(np.int64)
    keep = day <= ref
    feats, present = {}, np.ones(n_cust, dtype=bool)
    for name in ("click", "view", "purchase"):
        m = keep & (etype == EVENT_TYPES.index(name))
        diff = np.full(n_cust, np.iinfo(np.int64).max)
        np.minimum.at(diff, user[m], ref - day[m])
        total = np.bincount(user[m], weights=value[m], minlength=n_cust)
        present &= np.bincount(user[m], minlength=n_cust) > 0
        feats[name] = (diff, total)

    def z(x):
        x = x[present].astype(np.float64)
        return (x - x.mean()) / (x.std() + 1e-12)

    s = (1.2 * z(feats["purchase"][1]) - 0.8 * z(feats["purchase"][0].astype(np.float64))
         + 0.5 * z(feats["view"][1]) + 0.4 * z(cust["c_acctbal"]))
    logit = 1.6 * s - 2.6
    y = rng.random(len(s)) < 1.0 / (1.0 + np.exp(-logit))
    label = np.zeros(n_cust, dtype=bool)
    label[np.flatnonzero(present)[y]] = True
    # the whole unlabelled population also orders now and then; only
    # positives have an order inside (LABEL_REF, LABEL_REF + window]
    epoch = np.datetime64("1970-01-01")
    lo = (LABEL_REF - epoch).astype(np.int64) + 1
    hi = lo + LABEL_WINDOW_DAYS
    first = (np.datetime64("1995-01-01") - epoch).astype(np.int64)
    n_ord = n_cust * ORDERS_PER_CUSTOMER
    o_cust = rng.integers(0, n_cust, n_ord)
    o_day = first + rng.integers(0, 2404, n_ord)
    inside = (o_day >= lo) & (o_day < hi)
    o_day[inside & ~label[o_cust]] -= LABEL_WINDOW_DAYS + 1
    pos_cust = np.flatnonzero(label)
    o_cust = np.concatenate([o_cust, pos_cust])
    o_day = np.concatenate([o_day, rng.integers(lo, hi, len(pos_cust))])
    _write(out, "orders", _orders(rng, np.arange(len(o_cust)), o_cust, o_day))
    _write(out, "customer", cust)
    return auc(s, y)

