"""Independent re-computations of the program's outputs.

- DuckDB runs the program's own SQL oracles over the generated parquet:
  ``plans.e1_pipeline.E1_ORACLE`` for the spread top-k and the curation
  prefix oracle for stages 0-4 (plus the stage-4 survivor ids, which
  feed the direct ``semantic_dedup`` check of stage 5).
- numpy re-scores every trade-signal response from the fitted model
  parameters: linear/ridge coefficients, and the random forest walked
  as arrays in the ``ml.treeshap.extract_trees`` layout.
"""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np

_STAGE0 = "\nSELECT CAST(0 AS INT) AS stage_no"


def _connect(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def e1_topk(data_dir: str, sql: str) -> list[tuple]:
    con = _connect(data_dir, ("events",))
    try:
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def curation_prefix(data_dir: str, sql: str) -> tuple[dict[int, int], list[int]]:
    """Stage 0-4 counts of the prefix oracle, and the stage-4 survivor
    ids from the same statement (one extra branch over its ``s4`` CTE)."""
    head, sep, tail = sql.partition(_STAGE0)
    if not sep:
        raise ValueError("curation prefix oracle no longer ends in its stage-count union")
    query = (
        head
        + "\nSELECT CAST(-1 AS INT) AS stage_no, 's4_id' AS stage, doc_id AS n_docs FROM s4"
        + "\nUNION ALL"
        + sep
        + tail
    )
    con = _connect(data_dir, ("documents",))
    try:
        rows = con.execute(query).fetchall()
    finally:
        con.close()
    counts = {int(no): int(n) for no, _, n in rows if no >= 0}
    ids = sorted(int(n) for no, _, n in rows if no < 0)
    return counts, ids


def same_topk(got: list[tuple], want: list[tuple]) -> bool:
    """(pair, lag, variance, n) rows equal; variance is compared to
    1.5e-6 because the two engines may round a 6-dp midpoint apart."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if (g[0], int(g[1]), int(g[3])) != (w[0], int(w[1]), int(w[3])):
            return False
        if abs(float(g[2]) - float(w[2])) > 1.5e-6:
            return False
    return True


# --- forest walk -----------------------------------------------------------

_SPLIT = re.compile(r"^\s*If \(feature (\d+) <= (\S+)\)$")
_LEAF = re.compile(r"^\s*Predict: (\S+)$")


def parse_forest(debug_string: str) -> list[dict]:
    """Trees of a Spark ML tree-ensemble ``toDebugString`` as the
    ``extract_trees`` arrays (DFS preorder; feature -1 marks a leaf).
    One JVM call for the whole forest instead of one per node; the
    printed doubles round-trip exactly."""
    trees, lines = [], None
    for line in debug_string.splitlines():
        if line.lstrip().startswith("Tree "):
            if lines is not None:
                trees.append(_parse_tree(lines))
            lines = []
        elif lines is not None and line.strip():
            lines.append(line)
    if lines is not None:
        trees.append(_parse_tree(lines))
    return trees


def _parse_tree(lines: list[str]) -> dict:
    arr = {k: [] for k in ("feature", "threshold", "left", "right", "value")}
    pos = 0

    def node() -> int:
        nonlocal pos
        idx = len(arr["feature"])
        for k in arr:
            arr[k].append(0)
        line = lines[pos]
        pos += 1
        leaf = _LEAF.match(line)
        if leaf:
            arr["feature"][idx] = -1
            arr["value"][idx] = float(leaf.group(1))
            return idx
        split = _SPLIT.match(line)
        if not split:
            raise ValueError(f"unexpected tree line: {line.strip()}")
        arr["feature"][idx] = int(split.group(1))
        arr["threshold"][idx] = float(split.group(2))
        arr["left"][idx] = node()
        pos += 1  # the "Else (feature f > t)" line
        arr["right"][idx] = node()
        return idx

    node()
    return {
        "feature": np.asarray(arr["feature"], dtype=np.int64),
        "threshold": np.asarray(arr["threshold"], dtype=np.float64),
        "left": np.asarray(arr["left"], dtype=np.int64),
        "right": np.asarray(arr["right"], dtype=np.int64),
        "value": np.asarray(arr["value"], dtype=np.float64),
    }


def same_tree(a: dict, b: dict) -> bool:
    """Structure, split and leaf equality of two trees in the
    ``extract_trees`` layout (internal-node values are not compared)."""
    leaf = a["feature"] < 0
    return (
        np.array_equal(a["feature"], b["feature"])
        and np.array_equal(a["threshold"][~leaf], b["threshold"][~leaf])
        and np.array_equal(a["left"][~leaf], b["left"][~leaf])
        and np.array_equal(a["right"][~leaf], b["right"][~leaf])
        and np.array_equal(a["value"][leaf], b["value"][leaf])
    )


def forest_predict(trees: list[dict], x: np.ndarray) -> float:
    """Mean of the trees' leaf values for one feature vector (Spark's
    random-forest regression averages equally weighted trees)."""
    total = 0.0
    for t in trees:
        i = 0
        while t["feature"][i] >= 0:
            i = t["left"][i] if x[t["feature"][i]] <= t["threshold"][i] else t["right"][i]
        total += t["value"][i]
    return total / len(trees)


# --- signal rule -----------------------------------------------------------


def signal_rule(pred: float, r2: float, threshold: float, min_confidence: float) -> tuple:
    """``functions.signals.trade_signal`` re-applied in Python:
    (signal, confidence, strength)."""
    if abs(pred) < threshold or r2 < min_confidence:
        signal = "WAIT"
    elif pred > 0:
        signal = "BUY_A_SELL_B"
    else:
        signal = "SELL_A_BUY_B"
    confidence = "High" if r2 >= 0.7 else "Medium" if r2 >= 0.4 else "Low"
    return signal, confidence, min(abs(pred) / threshold, 1.0)


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
