"""The benchmark's workloads.

A workload makes its inputs from the seed, registers them in the
session (part of set-up), and runs a *pass*: a list of steps. Each step
has a build phase (the call that returns a DataFrame or a lazy result)
and a run phase (the action that computes it). Every step returns an
output that ``check`` compares after the timed passes.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from . import checks, inputs


@dataclass
class Step:
    """One operation of a pass. ``build(state)`` returns what ``run``
    consumes; ``run(state, built)`` returns the checked output. The
    layers name where each phase's time is reported."""

    name: str
    build: Callable[[dict], Any]
    run: Callable[[dict, Any], Any]
    build_layer: str = "plans.build_s"
    run_layer: str = "plans.exec_s"


@dataclass
class Workload:
    make_inputs: Callable[[str, int], dict]
    register: Callable[[Any, dict], dict]
    steps: Callable[[Any, dict], list[Step]]
    check: Callable[[dict, dict, list[dict]], list[str]]


# --------------------------------------------------------------- registry queries

# One query from each of the four modules that hold the TPC-H suite:
# relational (q1 scan + aggregate), coverage (q18 large group-by and
# semi-join), tpch_ext (q19 disjunctive join predicate), tpch_full
# (q22 anti-join against a scalar subquery).
TPCH_QUERIES = ("tpch_q1", "tpch_q18", "tpch_q19", "tpch_q22")
# graph_cc_distributed: plans/graphq.py driving the connected-components
# star loop of operators/graph.py, which launches most of its jobs
# before the DataFrame is returned and rewrites session settings while
# it runs.
ITERATIVE_QUERIES = ("graph_cc_distributed",)


def _tpch_inputs(work: str, seed: int) -> dict:
    data = os.path.join(work, "data")
    rows = inputs.write_tpch(data, seed)
    return {"data_dir": data, "rows": rows}


def _register_views(spark, inp: dict) -> dict:
    from bigdata_spark.plans import all_queries
    from bigdata_spark.sources.catalog import register_views

    register_views(spark, inp["data_dir"])
    return {"registry": all_queries()}


def _query_steps(names: tuple[str, ...]):
    """One step per registry query, in a fixed order: the first query
    of the cold pass pays the JVM's warm-up, so a seeded order would
    make the cold pass depend on the seed."""

    def steps(spark, ctx: dict) -> list[Step]:
        data_dir = ctx["data_dir"]
        out = []
        for name in names:
            fn = ctx["registry"][name][0]
            out.append(Step(
                name,
                build=lambda state, fn=fn: fn(spark, data_dir),
                run=lambda state, df: (df.columns, df.collect()),
            ))
        return out

    return steps


def _check_queries(ctx: dict, state: dict, passes: list[dict]) -> list[str]:
    """Every pass must give the same rows for a query, and those rows
    must equal the DuckDB oracle where the query has one."""
    problems = []
    canon = {}
    for name in passes[0]:
        canon[name] = checks.canonical_rows(*passes[0][name])
        for i, p in enumerate(passes[1:], start=1):
            if checks.canonical_rows(*p[name]) != canon[name]:
                problems.append(f"{name}: pass {i} differs from pass 0")
    con = checks.duckdb_connect(ctx["data_dir"], inputs.TABLES)
    try:
        for name in passes[0]:
            sql = ctx["registry"][name][1]
            if sql is None:
                continue
            want = checks.duckdb_rows(con, sql)
            got = canon[name]
            if want != got:
                problems.append(
                    f"{name}: differs from DuckDB oracle "
                    f"(spark {len(got[1])} rows {got[0]}, duckdb {len(want[1])} rows {want[0]})"
                )
    finally:
        con.close()
    return problems


# ------------------------------------------------------------ time-series models

TS_TRAIN_FRACTION = 0.8


def _series_inputs(n_pool: int, n_score: int):
    def make(work: str, seed: int) -> dict:
        os.makedirs(work, exist_ok=True)
        out = {"pool": os.path.join(work, "pool.parquet"), "score": os.path.join(work, "score.parquet")}
        out["rows"] = {
            "pool": inputs.write_series(out["pool"], n_pool, seed, stream=0),
            "score": inputs.write_series(out["score"], n_score, seed, stream=1),
        }
        return out

    return make


def _register_series(spark, inp: dict) -> dict:
    ctx = {}
    for key in ("pool", "score"):
        ctx[key] = spark.read.parquet(inp[key])
        ctx[key].createOrReplaceTempView(key)
    return ctx


def _ts_steps(tree_params: dict, forest_params: dict):
    """The paper's two pipelines over one split: the global proximity
    tree scores the held-out rows, the local proximity forest scores the
    separate, larger scoring table. Split and models keep the program's
    default seeds; the workload seed changes only the rows."""

    def steps(spark, ctx: dict) -> list[Step]:
        from bigdata_spark.ml.evaluation import _confusion_counts, metrics_from_counts
        from bigdata_spark.ml.global_tree import GlobalProximityTree
        from bigdata_spark.ml.local_forest import LocalProximityForest
        from bigdata_spark.operators.sampling import stratified_split

        def split(state):
            state["train"], state["test"] = stratified_split(
                ctx["pool"].select("label", "features"), "label", TS_TRAIN_FRACTION
            )

        def fit_global(state, _):
            state["tree"] = t = GlobalProximityTree(**tree_params).fit(state["train"])
            model = checks.digest(json.dumps(t.to_state(), sort_keys=True))
            return {"model": model, "levels": t.depth, "nodes": len(t.nodes)}

        def fit_local(state, _):
            state["forest"] = f = LocalProximityForest(**forest_params).fit(state["train"])
            model = checks.digest([json.dumps(t.to_state(), sort_keys=True) for t in f.trees])
            return {"model": model, "trees": len(f.trees)}

        def evaluate(state, preds):
            counts = _confusion_counts(preds, "label", "prediction")
            return {"counts": sorted(counts.items()), "metrics": metrics_from_counts(counts)}

        return [
            Step("split", split, lambda state, _: None, "ml.split_s", "ml.split_s"),
            Step("fit_global", lambda state: None, fit_global, "ml.fit_s", "ml.fit_s"),
            Step(
                "score_global",
                lambda state: state["tree"].predict(state["test"]),
                evaluate, "ml.predict_s", "ml.eval_s",
            ),
            Step("fit_local", lambda state: None, fit_local, "ml.fit_s", "ml.fit_s"),
            Step(
                "score_local",
                lambda state: state["forest"].predict(ctx["score"].select("label", "features")),
                evaluate, "ml.predict_s", "ml.eval_s",
            ),
        ]

    return steps


def _check_model_passes(passes: list[dict]) -> list[str]:
    problems = []
    first = checks.digest(passes[0])
    for i, p in enumerate(passes[1:], start=1):
        if checks.digest(p) != first:
            problems.append(f"pass {i}: model or metrics differ from pass 0")
    return problems


def _check_scores(scored, step: str, passes: list[dict]) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Collect (label, prediction, features) and compare the pass's
    counts and metrics with a numpy recomputation."""
    rows = scored.select("label", "prediction", "features").collect()
    labels = np.array([r["label"] for r in rows])
    preds = np.array([r["prediction"] for r in rows])
    feats = np.array([np.asarray(r["features"], dtype=np.float64) for r in rows])
    counts, metrics = checks.metrics_numpy(labels, preds)
    got = passes[-1][step]
    problems = []
    if sorted(counts.items()) != [tuple(x) for x in got["counts"]]:
        problems.append(f"{step}: confusion counts differ from numpy recomputation")
    if not checks.metrics_match(metrics, got["metrics"]):
        problems.append(f"{step}: metrics differ from numpy recomputation {metrics} vs {got['metrics']}")
    return problems, preds, feats


def _accuracy_band(step: str, passes: list[dict]) -> list[str]:
    acc = passes[-1][step]["metrics"]["accuracy"]
    if 0.2 < acc < 0.999:
        return []
    return [f"{step}: accuracy {acc} outside the expected band (0.2, 0.999)"]


def _check_ts(ctx: dict, state: dict, passes: list[dict]) -> list[str]:
    """Same models and metrics on every pass; metrics equal to a numpy
    recomputation from the collected predictions; global-tree
    predictions equal to a numpy replay of the fitted tree."""
    problems = _check_model_passes(passes)
    scored = state["tree"].predict(state["test"])
    more, preds, feats = _check_scores(scored, "score_global", passes)
    problems += more
    replay = checks.tree_predict_numpy(state["tree"].to_state(), feats)
    if not np.array_equal(replay, preds):
        problems.append(
            f"score_global: {int((replay != preds).sum())} predictions differ from a numpy replay of the tree"
        )
    scored = state["forest"].predict(ctx["score"].select("label", "features"))
    more, _, _ = _check_scores(scored, "score_local", passes)
    problems += more
    return problems + _accuracy_band("score_global", passes) + _accuracy_band("score_local", passes)


# ------------------------------------------------------------------- catalogue

GLOBAL_TREE = {"n_splitters": 5, "max_depth": 5, "min_samples_split": 8}
LOCAL_FOREST = {"num_partitions": 4, "n_splitters": 5, "max_depth": 12}
TS_POOL_ROWS = 800
TS_SCORE_ROWS = 3_200

# Descriptions live in BENCHMARK.json.
WORKLOADS = {
    "tpch": Workload(_tpch_inputs, _register_views, _query_steps(TPCH_QUERIES), _check_queries),
    "iterative": Workload(_tpch_inputs, _register_views, _query_steps(ITERATIVE_QUERIES), _check_queries),
    "ts": Workload(
        _series_inputs(TS_POOL_ROWS, TS_SCORE_ROWS),
        _register_series,
        _ts_steps(GLOBAL_TREE, LOCAL_FOREST),
        _check_ts,
    ),
}
