"""Deterministic random-walk corpus generation over a KG.

DeepWalk / node2vec (Perozzi et al., KDD 2014; Grover & Leskovec, KDD
2016 — public knowledge) train graph/KG embeddings on a corpus of
fixed-length walks.  This operator generates that corpus DISTRIBUTED and
DETERMINISTIC: at step ``s``, walk ``w`` standing on node ``u`` moves to
the out-neighbor ``(pred, v)`` minimizing the portable 60-bit hash
``H(w, s, v, pred)`` (functions/hashing.py — the md5-lockstep family).
The "randomness" is a pure function of (walk, step, candidate) — the
common-random-numbers trick — so the corpus is reproducible across
engines, cluster sizes, and retries, and the DuckDB oracle replays it
bit-for-bit (registry `kg_walks`).  Ties (astronomically unlikely hash
collisions) break on (node, pred), making determinism unconditional.

Walks run on the SYMMETRIZED graph (each (pred, h, t) also contributes
(pred_inv, t, h)) — the DeepWalk convention — which also guarantees
walks never die: every reached node has >=1 out-neighbor (the arc it
arrived on, reversed), so the output is exactly
``n_walks * (walk_len + 1)`` rows (pinned in tests/unit/test_walks.py).

Scale shape (100 TB posture).  Seeds are a bounded sample, so each step
BROADCASTS the frontier (n_walks two-column rows) against the edge
table: per-step cost is one edge-table scan plus a min-aggregate keyed
on walk_id that partial-aggregates MAP-SIDE — no edge shuffle, and hub
skew is a non-issue because a hub's million candidate rows collapse to
one partial-min row per walk per task before any exchange.  The
symmetrized edge set is materialized once (localCheckpoint) since it
feeds walk_len scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.functions.hashing import portable_hash60, portable_hash60_sql

WALK_LEN = 3
WALKS_PER_SEED = 2


def symmetrize(edges: DataFrame) -> DataFrame:
    """(pred, head, tail) → same plus the reversed arcs as ``pred_inv``.
    No distinct: the input is assumed edge-distinct and the reversal is a
    bijection, so no duplicates can appear (and a forward edge that also
    exists backwards stays distinguishable by the pred suffix)."""
    return edges.unionByName(
        edges.select(
            F.concat(F.col("pred"), F.lit("_inv")).alias("pred"),
            F.col("tail").alias("head"),
            F.col("head").alias("tail"),
        )
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_len: int = WALK_LEN,
    walks_per_seed: int = WALKS_PER_SEED,
) -> DataFrame:
    """Hash-deterministic walks over the symmetrized ``edges``.

    ``edges``: (pred string, head bigint, tail bigint), edge-distinct.
    ``seeds``: single bigint column ``id``; each seed starts
    ``walks_per_seed`` walks with walk_id = id * walks_per_seed + j.

    Returns (walk_id bigint, step int, pred string, node bigint) — one
    row per visited node; pred is the arc label used to arrive (the
    literal 'seed' at step 0, so the column is never NULL).
    """
    sym = symmetrize(edges).localCheckpoint()
    frontier = seeds.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(walks_per_seed - 1))).alias("j")
    ).select(
        (F.col("id") * walks_per_seed + F.col("j")).alias("walk_id"),
        F.col("id").alias("node"),
    )
    out = frontier.select(
        "walk_id",
        F.lit(0).alias("step"),
        F.lit("seed").alias("pred"),
        "node",
    )
    for s in range(1, walk_len + 1):
        cand = sym.join(F.broadcast(frontier), sym["head"] == frontier["node"])
        pick = cand.groupBy("walk_id").agg(
            F.min(
                F.struct(
                    portable_hash60("walk_id", F.lit(str(s)), "tail", "pred").alias(
                        "h"
                    ),
                    F.col("tail").alias("node"),
                    F.col("pred").alias("pred"),
                )
            ).alias("m")
        )
        # Lineage cut per step: the union output shares each step's plan
        # as a subplan of every LATER step, and Spark has no cross-branch
        # common-subexpression reuse — without the cut the final action
        # recomputes step s inside steps s+1..L (O(L^2) edge scans;
        # measured 67 s -> ~8 s at sf0.1).  The frame is n_walks rows, so
        # the eager localCheckpoint is driver-cheap and data-size-free.
        step_rows = pick.select(
            "walk_id",
            F.lit(s).alias("step"),
            F.col("m.pred").alias("pred"),
            F.col("m.node").alias("node"),
        ).localCheckpoint()
        out = out.unionByName(step_rows)
        frontier = step_rows.select("walk_id", "node")
    return out


SKIPGRAM_WINDOW = 2


def skipgram_pairs(walks: DataFrame, window: int = SKIPGRAM_WINDOW) -> DataFrame:
    """(src, dst) co-occurrence counts from a walk corpus — the skip-gram
    training pairs DeepWalk feeds to word2vec (center node, context node
    within ±``window`` steps on the same walk; direction kept, so the
    pair relation is symmetric row-wise, not collapsed).

    Scale shape: a self-join keyed on walk_id — per-key fan-out is
    bounded by (walk_len+1) × 2·window regardless of graph size or hub
    structure (walks are fixed-length), and the count agg partial-
    aggregates map-side, so the only real exchange is the final
    (src, dst) group — vocabulary-bounded output."""
    a = walks.select(
        "walk_id", F.col("step").alias("s_src"), F.col("node").alias("src")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("s_dst"), F.col("node").alias("dst")
    )
    d = F.abs(F.col("s_src") - F.col("s_dst"))
    return (
        a.join(b, "walk_id")
        .where((d >= 1) & (d <= window))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_pairs"))
    )


def skipgram_pairs_sql(walks_sql: str, window: int = SKIPGRAM_WINDOW) -> str:
    """DuckDB twin of :func:`skipgram_pairs` (lockstep constants)."""
    return f"""
WITH walks AS ({walks_sql})
SELECT a.node AS src, b.node AS dst, COUNT(*) AS n_pairs
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id
 AND abs(a.step - b.step) BETWEEN 1 AND {window}
GROUP BY a.node, b.node
"""


def random_walks_sql(
    edges_sql: str,
    seeds_sql: str,
    walk_len: int = WALK_LEN,
    walks_per_seed: int = WALKS_PER_SEED,
) -> str:
    """DuckDB twin of :func:`random_walks` — MUST stay in lockstep (the
    registry interpolates the same module-level defaults).

    ``edges_sql``: relation producing (pred, head, tail);
    ``seeds_sql``: relation producing a single bigint column ``id``.
    Unrolled one CTE per step (walk_len is a small constant); the argmin
    is QUALIFY row_number ordered by (hash, node, pred) — the same total
    order as the Spark struct-min."""
    walk_ids = ", ".join(f"({j})" for j in range(walks_per_seed))
    steps = []
    prev = "w0"
    for s in range(1, walk_len + 1):
        h = portable_hash60_sql(
            f"concat_ws('|', {prev}.walk_id, '{s}', e.tail, e.pred)"
        )
        steps.append(
            f"""s{s} AS (
  SELECT {prev}.walk_id, e.pred, e.tail AS node
  FROM {prev} JOIN sym e ON e.head = {prev}.node
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY {prev}.walk_id
    ORDER BY {h},
             e.tail, e.pred
  ) = 1
)"""
        )
        prev = f"s{s}"
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT walk_id, {s} AS step, pred, node FROM s{s}"
        for s in range(1, walk_len + 1)
    )
    return f"""
WITH edges AS ({edges_sql}),
sym AS (
  SELECT pred, head, tail FROM edges
  UNION ALL
  SELECT pred || '_inv' AS pred, tail AS head, head AS tail FROM edges
),
seeds AS ({seeds_sql}),
w0 AS (
  SELECT id * {walks_per_seed} + t.j AS walk_id, id AS node
  FROM seeds CROSS JOIN (VALUES {walk_ids}) t(j)
),
{",".join(steps)}
SELECT walk_id, CAST(0 AS INT) AS step, 'seed' AS pred, node FROM w0
  UNION ALL
  {unions}
ORDER BY walk_id, step
"""
