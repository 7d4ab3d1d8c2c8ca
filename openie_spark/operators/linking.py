"""Entity linking (OP-30..35, SURVEY.md §2.4).

Two paths, in order:
  1. OP-30 exact: broadcast hash join mentions ⋈ alias_dict on
     mention_norm = alias_norm (the dict is the small dimension the north
     star calls the "broadcast alias dictionary").
  2. OP-31..34 MinHash-LSH for the remainder: char-3-gram shingles
     (JVM-side higher-order functions — no UDF), 64-perm MinHash + 16x4
     banding (vectorized pandas UDF over the shared frozen scheme in
     functions/minhash.py), candidate generation by shuffled equi-join on
     band keys, exact-Jaccard verification (array_intersect/array_union,
     JVM-side) at threshold 0.5, best match per mention by
     (jaccard desc, entity_id asc) — a total order, so deterministic.
  3. OP-35 minting: still-unlinked mentions get entity_id =
     xxhash64(mention_norm) — deterministic, partition-independent (never
     monotonically_increasing_id).

Scale notes (10^12-doc posture): the LSH join is a plain shuffled equi-join
on 16 exploded band keys per side — linear fan-out, no cross product; the
distinct-mentions projection upstream collapses the join input to unique
mention_norm values (bounded by vocabulary, not corpus size); the alias dict
is broadcast once.  Hot mention_norm values are irrelevant here because the
join runs on DISTINCT mentions; the hot-key problem lives in the
triples→canonical join back, which the pipeline's materialize stage
broadcasts (plans/pipeline.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from openie_spark.functions import minhash as mh
from openie_spark.functions.lineage import cut_lineage


def shingles_col(col: str):
    """OP-31 char-3-gram shingles, computed JVM-side with higher-order
    array functions (sequence/transform/array_distinct) — no Python."""
    c = F.col(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.length(c) - 3),
        lambda i: c.substr(i + 1, F.lit(3)),
    )
    return F.when(F.length(c) >= 3, F.array_distinct(grams)).otherwise(
        F.when(F.length(c) > 0, F.array(c)).otherwise(F.array().cast("array<string>"))
    )


@pandas_udf(ArrayType(LongType()))
def band_keys_udf(norm: pd.Series) -> pd.Series:
    """OP-32/33: MinHash signature → 16 LSH band keys (frozen scheme),
    numpy-vectorized across the whole Arrow batch (minhash.py batch path,
    bit-identical to the scalar oracle path)."""
    return pd.Series(mh.band_keys_for_batch(norm.tolist()), index=norm.index)


def exact_links(mentions_distinct: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """OP-30: broadcast exact-alias join → (mention_norm, entity_id, method)."""
    return (
        mentions_distinct.join(
            F.broadcast(alias_dict),
            mentions_distinct.mention_norm == alias_dict.alias_norm,
            "inner",
        )
        # a mention may hit several aliases of several entities; keep the
        # deterministic min entity per mention
        .groupBy("mention_norm")
        .agg(F.min("entity_id").alias("entity_id"))
        .withColumn("method", F.lit("exact"))
    )


def lsh_links(unlinked: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """OP-31..34: LSH candidate blocking + exact-Jaccard verify + best match.

    unlinked: DataFrame[mention_norm] (distinct).
    Returns (mention_norm, entity_id, method='lsh').
    """
    # band keys only through the 16x-replicated explode/join; the shingle
    # arrays are recomputed as a JVM expression on the (far fewer)
    # candidate pairs instead of being carried through the shuffle
    #
    # explicit repartition before the MinHash UDF: `unlinked` arrives from
    # an anti-join whose output AQE coalesces to ~1 partition at small
    # scale, which serializes the Python signature work (measured 7.9 s →
    # ~1 s at 92k mentions on 32 cores).  Partition count = cluster slots
    # (defaultParallelism), NOT spark.sql.shuffle.partitions: the right
    # sizing for a Python-UDF stage is one task per core — byte-based AQE
    # coalescing under-parallelizes it and more tasks than cores just pay
    # Arrow/worker dispatch per task.  The repartitioned data is
    # vocabulary-bounded, so this shuffle never grows with corpus size.
    n_part = unlinked.sparkSession.sparkContext.defaultParallelism
    m_exp = unlinked.repartition(n_part, "mention_norm").select(
        "mention_norm", F.explode(band_keys_udf("mention_norm")).alias("band_key")
    )
    a_exp = alias_dict.select(
        "alias_norm",
        "entity_id",
        F.explode(band_keys_udf("alias_norm")).alias("band_key"),
    )
    cand = (
        m_exp.join(a_exp, "band_key")
        .dropDuplicates(["mention_norm", "alias_norm", "entity_id"])
        # same AQE-coalesce hazard for the JVM-side O(|shingles|^2) verify
        .repartition(n_part, "mention_norm", "alias_norm")
        .withColumn("m_shingles", shingles_col("mention_norm"))
        .withColumn("a_shingles", shingles_col("alias_norm"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("m_shingles", "a_shingles"))
            / F.size(F.array_union("m_shingles", "a_shingles")),
        )
        .where(F.col("jaccard") >= mh.JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("mention_norm").orderBy(
        F.desc("jaccard"), F.asc("entity_id"), F.asc("alias_norm")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("mention_norm", "entity_id", F.lit("lsh").alias("method"))
    )


def mint_ids(unlinked: DataFrame) -> DataFrame:
    """OP-35: deterministic new-entity ids for unlinked mentions."""
    return unlinked.select(
        "mention_norm",
        F.xxhash64("mention_norm").alias("entity_id"),
        F.lit("minted").alias("method"),
    )


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Full linking stage: distinct mentions → exact ∪ lsh ∪ minted links.
    Input needs a mention_norm column; output one row per distinct
    mention_norm with (entity_id, method).

    Each stage boundary is an EAGER lineage cut: the three-way union
    references every subtree at least twice (lsh feeds both a union branch
    and rest2's anti-join), and materializing the whole tree in one job
    recomputes the shared subtrees — concurrent stages race the lazy cache
    and each loser recomputes from the parquet scan up (measured 12 s vs
    ~6 s for the eager version at 92k distinct mentions).  Every cut
    dataset here is vocabulary-bounded (distinct mentions, not corpus
    rows), so the extra jobs stay tiny at any corpus size."""
    distinct = cut_lineage(mentions.select("mention_norm").distinct(), eager=True)
    exact = cut_lineage(exact_links(distinct, alias_dict), eager=True)
    rest1 = cut_lineage(
        distinct.join(exact, "mention_norm", "left_anti"), eager=True  # OP-53
    )
    lsh = cut_lineage(lsh_links(rest1, alias_dict), eager=True)
    rest2 = rest1.join(lsh, "mention_norm", "left_anti")
    minted = mint_ids(rest2)
    return exact.unionByName(lsh).unionByName(minted)


def blocking_quality(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Blocking-quality metrics for the LSH candidate blocker — ONE row of
    exact integers (Christen, "Data Matching", 2012):

      pairs completeness  = blocking recall: fraction of truly-matching
                            (mention, alias) pairs (exact Jaccard >= the
                            frozen threshold) that share >= 1 LSH band;
      reduction ratio     = fraction of the |mentions| x |aliases| pair
                            space the blocker prunes.

    Ground truth is a brute-force pass against the BROADCAST alias
    dictionary — linear in distinct mentions because the dictionary is the
    bounded small dimension (the north star's "broadcast alias dict"), so
    the truth pass costs one broadcast nested-loop over a
    vocabulary-bounded frame, never a corpus-sized cross product.  At a
    10^9-alias dictionary you would run the truth pass on a deterministic
    hash-sample of mentions instead; the metric definition is unchanged.

    Ratios are reported in exact integer ppm (floor division) so the
    driver value-hash is bit-comparable — no float accumulation.  The
    pure-Python twin (fixtures/gen_blocking_twin.py) replays the same
    frozen scheme single-process and is the DuckDB oracle.
    """
    distinct = mentions.select("mention_norm").distinct()
    aliases = cut_lineage(
        alias_dict.select("alias_norm").distinct(), eager=True
    )
    # the blocker's actual input: mentions the exact path did NOT consume
    rest = cut_lineage(
        distinct.join(aliases, distinct.mention_norm == aliases.alias_norm, "left_anti"),
        eager=True,
    )
    n_part = mentions.sparkSession.sparkContext.defaultParallelism
    m_exp = rest.repartition(n_part, "mention_norm").select(
        "mention_norm", F.explode(band_keys_udf("mention_norm")).alias("band_key")
    )
    a_exp = aliases.select(
        "alias_norm", F.explode(band_keys_udf("alias_norm")).alias("band_key")
    )
    cand = (
        m_exp.join(a_exp, "band_key")
        .select("mention_norm", "alias_norm")
        .dropDuplicates(["mention_norm", "alias_norm"])
    )
    truth = (
        rest.crossJoin(F.broadcast(aliases))
        .withColumn("m_shingles", shingles_col("mention_norm"))
        .withColumn("a_shingles", shingles_col("alias_norm"))
        .where(
            F.size(F.array_intersect("m_shingles", "a_shingles"))
            / F.size(F.array_union("m_shingles", "a_shingles"))
            >= mh.JACCARD_THRESHOLD
        )
        .select("mention_norm", "alias_norm")
    )
    per_pair = (
        cand.withColumn("is_cand", F.lit(1)).withColumn("is_true", F.lit(0))
        .unionByName(
            truth.withColumn("is_cand", F.lit(0)).withColumn("is_true", F.lit(1))
        )
        .groupBy("mention_norm", "alias_norm")
        .agg(F.max("is_cand").alias("is_cand"), F.max("is_true").alias("is_true"))
    )
    counts = per_pair.agg(
        F.coalesce(F.sum("is_cand"), F.lit(0)).cast("bigint").alias("n_cand_pairs"),
        F.coalesce(F.sum("is_true"), F.lit(0)).cast("bigint").alias("n_true_pairs"),
        F.coalesce(F.sum(F.col("is_cand") * F.col("is_true")), F.lit(0))
        .cast("bigint")
        .alias("n_found_pairs"),
    )
    sizes = rest.agg(F.count("*").alias("n_mentions")).crossJoin(
        aliases.agg(F.count("*").alias("n_aliases"))
    )
    return sizes.crossJoin(counts).select(
        "n_mentions",
        "n_aliases",
        "n_true_pairs",
        "n_cand_pairs",
        "n_found_pairs",
        F.when(
            F.col("n_true_pairs") > 0,
            F.expr("n_found_pairs * 1000000 div n_true_pairs"),
        )
        .otherwise(F.lit(1000000))
        .cast("bigint")
        .alias("pairs_completeness_ppm"),
        F.when(
            F.col("n_mentions") * F.col("n_aliases") > 0,
            F.expr(
                "(n_mentions * n_aliases - n_cand_pairs) * 1000000"
                " div (n_mentions * n_aliases)"
            ),
        )
        .otherwise(F.lit(1000000))
        .cast("bigint")
        .alias("reduction_ratio_ppm"),
    )
