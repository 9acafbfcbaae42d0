"""Per-run output checks. Each returns a list of (name, ok, detail); every
entry is one attempted op, and a failed one counts as a failed op."""
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# recall bound tools/Recall sets for prebuilt IVF search at the auto
# nlist / nprobe operating point (`ann_ivf_search`)
RECALL_BOUND = 0.85
# how far below the planted rule's own AUC the fitted model may land
AUC_MARGIN = 0.02


def _connect(data_dir, tables):
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _rows(con, path):
    return con.execute(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]


# the build-features stage as SQL over the generated inputs: customers with
# click, view and purchase events on or before the reference date, labelled
# 1 when they have an order inside the label window
FEATURE_SQL = f"""
WITH ev AS (
  SELECT user_id AS c_custkey FROM events
  WHERE CAST(ts AS DATE) <= DATE '{gen.EVENT_REF}'
    AND event_type IN ('click', 'view', 'purchase')
  GROUP BY user_id HAVING count(DISTINCT event_type) = 3),
lbl AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) > DATE '{gen.LABEL_REF}'
    AND CAST(o_orderdate AS DATE) <= DATE '{gen.LABEL_REF}' + INTERVAL {gen.LABEL_WINDOW_DAYS} DAY)
SELECT count(*), count(lbl.c_custkey)
FROM (SELECT DISTINCT c_custkey FROM customer) c
JOIN ev USING (c_custkey) LEFT JOIN lbl USING (c_custkey)
"""


def propensity(data_dir, facts, rule_auc):
    """Labelled rows against a DuckDB replay of the feature SQL, prediction
    rows against feature rows, and model AUC against the planted rule.
    Returns (checks, model_auc)."""
    con = _connect(data_dir, ["customer", "orders", "events"])
    want_rows, want_pos = con.execute(FEATURE_SQL).fetchone()
    feats, preds = facts["features"], facts["predictions"]
    got_rows = _rows(con, feats)
    got_pos = con.execute(f"SELECT count(*) FROM '{feats}/*.parquet' WHERE target_var = 1").fetchone()[0]
    n_pred = _rows(con, preds)
    score, label = con.execute(f"SELECT score, target_var FROM '{preds}/*.parquet'").fetchnumpy().values()
    model_auc = gen.auc(score, label)
    bound = rule_auc - AUC_MARGIN
    return [
        ("labelled_rows", got_rows == want_rows and got_pos == want_pos,
         f"spark {got_rows} rows / {got_pos} positive, duckdb {want_rows} / {want_pos}"),
        ("prediction_rows", n_pred == got_rows, f"{n_pred} predictions for {got_rows} feature rows"),
        ("model_auc", model_auc >= bound, f"auc {model_auc:.4f}, bound {bound:.4f} (rule {rule_auc:.4f})"),
    ], model_auc


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def query_mix(data_dir, checks):
    """Exact queries: full result compare with the oracle SQL run in DuckDB
    (the compare tools/compare_oracle.py makes: columns by name, rows
    sorted, values exact). Inexact queries: row counts. Queries with no
    oracle SQL (the approximate ANN bench lane) only have to run."""
    con = _connect(data_dir, TABLES)
    out = []
    for c in checks:
        name = c["query"]
        if "error" in c:
            out.append((name, False, "error: " + c["error"]))
            continue
        if c.get("oracle_sql") is None:
            out.append((name, True, "no oracle (ran)"))
            continue
        try:
            res = con.execute(f"SELECT * FROM '{c['result']}/*.parquet'")
            scols, srows = [d[0] for d in res.description], res.fetchall()
            ores = con.execute(c["oracle_sql"])
            ocols, orows = [d[0] for d in ores.description], ores.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append((name, False, f"compare error: {e}"))
            continue
        if not c["exact"]:
            out.append((name, len(srows) == len(orows), f"rows spark {len(srows)} oracle {len(orows)}"))
            continue
        sc, sr = _canon(srows, scols)
        oc, orr = _canon(orows, ocols)
        if sc != oc:
            out.append((name, False, f"schema spark {sc} oracle {oc}"))
        elif len(sr) != len(orr):
            out.append((name, False, f"rows spark {len(sr)} oracle {len(orr)}"))
        else:
            bad = next(((i, sc[j], x, y) for i, (a, b) in enumerate(zip(sr, orr))
                        for j, (x, y) in enumerate(zip(a, b)) if not _eq(x, y)), None)
            out.append((name, bad is None,
                        f"{len(sr)} rows match" if bad is None else f"value row {bad[0]} col {bad[1]}: {bad[2]!r} vs {bad[3]!r}"))
    return out


def _exact(data_dir, n_queries):
    """Brute-force cosines over the `embeddings` table for the query vectors
    vec_id < n_queries, as {query_id: {vec_id: cosine}}, with the semantics
    of the library's exact search (Similarity.cosineTopK, the truth
    tools/Recall compares with): a query is not its own neighbour, zero-norm
    vectors are left out, cosines are rounded to 6 decimals."""
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    x = t.column("embedding").combine_chunks().flatten().to_numpy()
    x = x.astype(np.float64).reshape(len(ids), -1)
    n = np.linalg.norm(x, axis=1)
    ids, x = ids[n > 0], x[n > 0] / n[n > 0, None]
    q = ids < n_queries
    return {int(i): {int(j): c for j, c in zip(ids, np.round(x @ v, 6)) if j != i}
            for i, v in zip(ids[q], x[q])}


def _topk(cosines, k):
    """The k best ids, ties to the lower id (rankTopK's order)."""
    return set(sorted(cosines, key=lambda j: (-cosines[j], j))[:k])


def _answer(path):
    rows = {}
    for q, v, c, r in duckdb.connect().execute(
            f"SELECT query_id, vec_id, cosine, rank FROM '{path}/*.parquet'").fetchall():
        rows.setdefault(int(q), []).append((int(r), int(v), float(c)))
    return {q: sorted(rs) for q, rs in rows.items()}


def _recall(exact, answer, k):
    found = sum(len(_topk(cos, k) & {v for _, v, _ in answer.get(q, [])})
                for q, cos in exact.items())
    return found / float(k * len(exact))


def recall(data_dir, facts, k=10):
    """The similarity slot's IVF answer on sf0.1: every query has k distinct
    neighbours, never itself, ranked 1..k by cosine, each cosine the exact
    one (an approximate search may miss neighbours but not misreport
    them); its recall@k against brute force is the `quality` figure. The
    recall bound is checked where tools/Recall sets it (`ann_ivf_search`,
    auto nlist / nprobe over the sf0.01 embeddings): the same search of the
    same queries there. Returns (checks, recall on sf0.1)."""
    n = facts["search_queries"]
    exact, answer = _exact(data_dir, n), _answer(facts["search_results"])
    bad = []
    for q, cos in exact.items():
        rs = answer.get(q, [])
        vs = [v for _, v, _ in rs]
        if ([r for r, _, _ in rs] != list(range(1, k + 1)) or len(set(vs)) != k or q in vs
                or any(abs(c - cos.get(v, math.inf)) > 1e-5 for _, v, c in rs)
                or any(a[2] < b[2] for a, b in zip(rs, rs[1:]))):
            bad.append(q)
    bad += sorted(set(answer) - set(exact))
    r = _recall(exact, answer, k)
    ref = _recall(_exact(facts["ref_data"], n), _answer(facts["ref_search_results"]), k)
    return [
        ("search_answer", not bad, f"{len(exact)} queries, bad {bad[:5]}; recall@{k} {r:.4f} "
                                   "(the quality metric; no bound at this point, see NOTES.md)"),
        ("recall_at_10", ref >= RECALL_BOUND, f"sf0.01 (tools/Recall's point): recall {ref:.4f}, "
                                              f"bound {RECALL_BOUND}"),
    ], r
