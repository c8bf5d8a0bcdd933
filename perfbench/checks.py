"""Output checks. None of this runs inside a timed window.

- ``canonical_rows``: order-insensitive canonical form of a result, the
  same cell rules as the repository's oracle gate: cells are tagged by
  type class (so an int never equals a float of the same value), floats
  compare on 12 significant digits, rows are sorted.
- ``duckdb_rows``: the registry's DuckDB ``oracle_sql`` over the same
  parquet files the Spark run read.
- ``metrics_numpy``: confusion counts and the four multiclass metrics
  recomputed in numpy from collected (label, prediction) pairs.
- ``tree_predict_numpy``: the global proximity tree's prediction rule
  replayed in numpy from the fitted tree's state.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import numpy as np


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("n", "")
    if isinstance(v, (bool, np.bool_)):
        return ("b", str(bool(v)))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return ("f", "0.0" if v == 0 else f"{v:.12g}")
    if isinstance(v, (int, np.integer)):
        return ("i", str(int(v)))
    if isinstance(v, decimal.Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("t", dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, dict):
        return ("a", tuple(sorted((k, _cell(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_cell(x) for x in v))
    return ("s", str(v))


def canonical_rows(columns: list[str], rows) -> tuple:
    """Columns sorted by name, every cell canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return (tuple(columns[i] for i in order), tuple(body))


def digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


def duckdb_rows(con, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canonical_rows(cols, cur.fetchall())


def duckdb_connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def metrics_numpy(labels: np.ndarray, preds: np.ndarray) -> tuple[dict, dict]:
    """(confusion counts, metrics) from label/prediction vectors, by
    the MulticlassMetrics formulas: weights are true-label shares and a
    0/0 precision, recall or F1 is 0."""
    labels = np.asarray(labels, dtype=np.float64)
    preds = np.asarray(preds, dtype=np.float64)
    classes = np.unique(np.concatenate([labels, preds]))
    cm = (labels[:, None, None] == classes[None, :, None]) & (preds[:, None, None] == classes[None, None, :])
    cm = cm.sum(axis=0)
    counts = {
        (float(classes[i]), float(classes[j])): int(cm[i, j])
        for i in range(len(classes))
        for j in range(len(classes))
        if cm[i, j]
    }
    total = cm.sum()
    label_tot, pred_tot, tp = cm.sum(axis=1), cm.sum(axis=0), np.diag(cm)
    w = label_tot / total
    with np.errstate(divide="ignore", invalid="ignore"):
        prec = np.where(pred_tot > 0, tp / np.maximum(pred_tot, 1), 0.0)
        rec = np.where(label_tot > 0, tp / np.maximum(label_tot, 1), 0.0)
        f1 = np.where(prec + rec > 0, 2 * prec * rec / np.where(prec + rec > 0, prec + rec, 1), 0.0)
    metrics = {
        "accuracy": float(tp.sum() / total),
        "weightedPrecision": float((w * prec).sum()),
        "weightedRecall": float((w * rec).sum()),
        "f1": float((w * f1).sum()),
    }
    return counts, metrics


def metrics_match(a: dict, b: dict, rel: float = 1e-9) -> bool:
    return a.keys() == b.keys() and all(
        math.isclose(a[k], b[k], rel_tol=rel, abs_tol=1e-12) for k in a
    )


def tree_predict_numpy(state: dict, features: np.ndarray) -> np.ndarray:
    """Route each row to a leaf by nearest exemplar (squared euclidean,
    first minimum wins) and return the leaf's class, or the tree's
    majority class where no leaf is reached."""
    nodes = state["nodes"]
    out = np.empty(len(features), dtype=np.int64)
    for r, x in enumerate(features):
        node, hops = nodes["0"], 0
        while not node["is_leaf"] and hops < 50:
            ex = np.asarray(node["exemplars"], dtype=np.float64)
            ix = int(np.argmin(((ex - x) ** 2).sum(axis=1)))
            node = nodes[str(node["children"][str(ix)])]
            hops += 1
        pred = node["prediction"] if node["is_leaf"] else None
        out[r] = state["majority_class"] if pred is None else pred
    return out
