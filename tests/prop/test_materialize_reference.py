"""Materialize join gate on a skewed corpus: the pipeline's broadcast joins
must produce exactly the edges and vertices that plain shuffle joins produce
over the tables the pipeline wrote, on a zipf scale corpus whose top mention
is a genuinely hot join key (AQE on throughout)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.catalog import ParquetCatalog
from openie_spark.plans.pipeline import PipelineConfig, run_pipeline
from openie_spark.sources.tables import load_alias_dict, load_docs

NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture(scope="module")
def skewed_corpus_path() -> str:
    from openie_spark.fixtures.gen_scale import ensure_scale_corpus

    return ensure_scale_corpus(10_000, n_chunks=8)


def _reference(cat: ParquetCatalog, aliases):
    """Edges and vertices rebuilt from the written triples, links and
    cc_assign tables with plain joins (no broadcast hints)."""
    triples = cat.load_table("triples")
    links = cat.load_table("links")
    cc = cat.load_table("cc_assign")

    node_id = F.xxhash64("mention_norm")
    canon = links.join(cc, node_id == cc.id, "left").select(
        "mention_norm", F.coalesce("rep", node_id).alias("canonical_id")
    )
    edges = (
        triples.join(canon.toDF("subj_norm", "subj_canonical"), "subj_norm")
        .join(canon.toDF("arg_norm", "obj_canonical"), "arg_norm")
        .select(
            "subj_canonical",
            F.col("rel").alias("pred"),
            "obj_canonical",
            "doc_id",
            "sent_idx",
            "conf",
        )
    )

    # an SV triple (arg_norm = '') mentions only its subject
    counts = (
        triples.select(F.col("subj_norm").alias("mention_norm"))
        .unionAll(
            triples.where(F.col("arg_norm") != "").select(
                F.col("arg_norm").alias("mention_norm")
            )
        )
        .groupBy("mention_norm")
        .agg(F.count("*").alias("n_mentions"))
    )
    mention_nodes = links.join(counts, "mention_norm", "left").select(
        node_id.alias("entity_id"),
        F.col("mention_norm").alias("name"),
        F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
    )
    dict_nodes = (
        links.where(F.col("method") != "minted")
        .select("entity_id")
        .join(aliases.select("entity_id", "entity_name"), "entity_id")
        .select(
            "entity_id",
            F.col("entity_name").alias("name"),
            F.lit(0).cast("long").alias("n_mentions"),
        )
    )
    nodes = mention_nodes.unionByName(dict_nodes).distinct()
    vertices = nodes.join(cc, nodes.entity_id == cc.id, "left").select(
        "entity_id",
        F.coalesce("rep", "entity_id").alias("canonical_id"),
        "name",
        "n_mentions",
    )
    return edges, vertices


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_broadcast_materialize_matches_plain_join_reference(
    spark, skewed_corpus_path, alias_dict_path, tmp_path
):
    docs = load_docs(spark, skewed_corpus_path)
    aliases = load_alias_dict(spark, alias_dict_path)
    cat = ParquetCatalog(spark, str(tmp_path / "kg"))
    run_pipeline(
        spark,
        docs,
        aliases,
        cat,
        PipelineConfig(run_id="zipf", collect_counts=False, check_invariant=False),
    )

    # the corpus is skewed: its top mention is a hot key of both joins
    # (an SV triple's empty arg_norm joins nothing, so it is not counted)
    triples = cat.load_table("triples")
    keys = triples.select(
        F.explode(F.array("subj_norm", "arg_norm")).alias("k")
    ).where(F.col("k") != "")
    top = keys.groupBy("k").count().orderBy(F.desc("count")).first()["count"]
    assert top >= 0.05 * keys.count()

    saved = {k: spark.conf.get(k, None) for k in NO_BROADCAST}
    for k, v in NO_BROADCAST.items():
        spark.conf.set(k, v)
    try:
        ref_edges, ref_vertices = _reference(cat, aliases)
        want_edges, want_vertices = _rows(ref_edges), _rows(ref_vertices)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # no two nodes share an id, so the pipeline's dedup picks nothing
    assert len({v[0] for v in want_vertices}) == len(want_vertices)
    assert len(want_edges) > 0
    assert _rows(cat.load_table("edges")) == want_edges
    assert _rows(cat.load_table("vertices")) == want_vertices
