"""The lineage-cut seam must be semantics-preserving in every mode —
``local`` (sandbox default), ``reliable`` (replicated checkpoint for
fault-tolerant clusters), and ``none`` — so the fault-tolerance trade is
config-only.  The reliable mode must also truncate the plan through the
ITERATIVE connected-components loop (a persist-based mode does not — its
plan doubles per round and analysis hangs, which is why it was removed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.functions.lineage import CKPT_DIR_KEY, CONF_KEY, cut_lineage


def test_reliable_mode_requires_checkpoint_dir(spark):
    """Must run BEFORE any reliable-mode use: setCheckpointDir is sticky
    for the session, so the missing-dir error is only observable while no
    dir has ever been set."""
    if spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        pytest.skip("checkpoint dir already set earlier in this session")
    spark.conf.set(CONF_KEY, "reliable")
    try:
        with pytest.raises(Exception, match="checkpointDir"):
            cut_lineage(spark.range(3), eager=True)
    finally:
        spark.conf.unset(CONF_KEY)


@pytest.mark.parametrize("mode", ["local", "reliable", "none"])
def test_cut_lineage_modes_preserve_results(spark, mode, tmp_path):
    spark.conf.set(CONF_KEY, mode)
    spark.conf.set(CKPT_DIR_KEY, str(tmp_path / "ck"))
    try:
        df = spark.range(100).withColumn("k", F.pmod("id", F.lit(7)))
        cut = cut_lineage(df, eager=True)
        assert cut.count() == 100
        assert cut.groupBy("k").count().count() == 7
    finally:
        spark.conf.unset(CONF_KEY)
        spark.conf.unset(CKPT_DIR_KEY)


def test_reliable_mode_survives_cc_iteration(spark, tmp_path):
    """Reliable checkpoints must truncate the plan through the iterative
    large-star/small-star loop (the case plain persist cannot handle)."""
    from openie_spark.fixtures.gen_graphs import all_graphs
    from openie_spark.operators.components import connected_components

    spark.conf.set(CONF_KEY, "reliable")
    spark.conf.set(CKPT_DIR_KEY, str(tmp_path / "cc_ck"))
    try:
        edges, expected = all_graphs()
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r["id"]: r["rep"] for r in connected_components(df).collect()}
        assert got == expected
    finally:
        spark.conf.unset(CONF_KEY)
        spark.conf.unset(CKPT_DIR_KEY)
