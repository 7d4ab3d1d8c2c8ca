"""L3 property tests over the full pipeline: end-to-end run on the golden
corpus, link-path coverage, canonicalization semantics, resume idempotence
(L3e), and determinism across parallelism (L3b)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.catalog import ParquetCatalog
from openie_spark.plans.pipeline import PipelineConfig, run_pipeline
from openie_spark.sources.tables import load_alias_dict, load_docs


@pytest.fixture(scope="module")
def pipeline_result(spark, golden_docs_path, alias_dict_path, tmp_path_factory):
    root = tmp_path_factory.mktemp("kg_out")
    cat = ParquetCatalog(spark, str(root))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)
    res = run_pipeline(spark, docs, aliases, cat, PipelineConfig(run_id="e2e"))
    return res, cat


def test_e2e_counts(pipeline_result):
    res, cat = pipeline_result
    assert res["n_triples"] > 1000
    assert res["span_invariant"]["ok"]
    assert res["n_links"] > 0
    # KG edges are binary relations: every ARGFUL triple becomes exactly one
    # edge; v2 SV clauses (no argument) stay in the triples table only
    triples = cat.load_table("triples")
    n_argful = triples.where(F.col("clause_type") != "SV").count()
    assert res["n_edges"] == n_argful
    assert res["n_triples"] > n_argful  # golden corpus does yield SV clauses
    assert res["n_vertices"] >= res["n_components"]


def test_link_methods_all_exercised(pipeline_result):
    _, cat = pipeline_result
    methods = {
        r.method for r in cat.load_table("links").select("method").distinct().collect()
    }
    assert methods == {"exact", "lsh", "minted"}


def test_canonicalization_merges_exact_and_dict(pipeline_result):
    """A mention exactly matching a dict alias must share canonical_id with
    the dict entity node."""
    _, cat = pipeline_result
    links = cat.load_table("links").where(F.col("method") == "exact")
    v = cat.load_table("vertices")
    joined = (
        links.select(F.xxhash64("mention_norm").alias("mid"), "entity_id")
        .join(v.select(F.col("entity_id").alias("mid"), F.col("canonical_id").alias("c1")), "mid")
        .join(
            v.select(F.col("entity_id").alias("entity_id"), F.col("canonical_id").alias("c2")),
            "entity_id",
        )
    )
    assert joined.where(F.col("c1") != F.col("c2")).count() == 0
    assert joined.count() > 0


def test_edges_reference_vertices(pipeline_result):
    _, cat = pipeline_result
    e = cat.load_table("edges")
    v = cat.load_table("vertices").select("canonical_id").distinct()
    dangling = (
        e.select(F.col("subj_canonical").alias("canonical_id"))
        .unionByName(e.select(F.col("obj_canonical").alias("canonical_id")))
        .distinct()
        .join(v, "canonical_id", "left_anti")
    )
    assert dangling.count() == 0


def test_resume_idempotent(spark, golden_docs_path, alias_dict_path, tmp_path):
    """L3e: run extract, then re-run same run_id — nothing recomputes and
    output is byte-identical; a changed fingerprint forces recompute."""
    cat = ParquetCatalog(spark, str(tmp_path / "kg"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)
    cfg = PipelineConfig(run_id="resume-test", stages=("extract",))

    r1 = run_pipeline(spark, docs, aliases, cat, cfg)
    t1 = sorted(map(tuple, cat.load_table("triples").collect()))
    assert r1["extract_pending_docs"] > 0

    r2 = run_pipeline(spark, docs, aliases, cat, cfg)
    assert r2["extract_pending_docs"] == 0  # everything checkpointed 'done'
    t2 = sorted(map(tuple, cat.load_table("triples").collect()))
    assert t1 == t2

    # different input (subset) → fingerprint mismatch → full recompute
    docs_subset = docs.where(F.col("doc_id") < "g00400")
    r3 = run_pipeline(spark, docs_subset, aliases, cat, cfg)
    assert r3["extract_pending_docs"] > 0


def test_pipeline_reliable_lineage_equals_local(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """The fault-tolerance seam is config-only: the full pipeline under
    lineageCut=reliable (replicated checkpoints, persist-wrapped eager
    writes) must produce vertices/edges byte-identical to the default
    local mode.  Run on a corpus subset to keep the gate fast."""
    from openie_spark.functions.lineage import CKPT_DIR_KEY, CONF_KEY

    docs = load_docs(spark, golden_docs_path).where(F.col("doc_id") < "g00200")
    aliases = load_alias_dict(spark, alias_dict_path)

    cat_local = ParquetCatalog(spark, str(tmp_path / "loc"))
    run_pipeline(spark, docs, aliases, cat_local, PipelineConfig(run_id="m"))
    v_loc = sorted(map(tuple, cat_local.load_table("vertices").collect()))
    e_loc = sorted(map(tuple, cat_local.load_table("edges").collect()))

    spark.conf.set(CONF_KEY, "reliable")
    spark.conf.set(CKPT_DIR_KEY, str(tmp_path / "rck"))
    try:
        cat_rel = ParquetCatalog(spark, str(tmp_path / "rel"))
        run_pipeline(spark, docs, aliases, cat_rel, PipelineConfig(run_id="m"))
        assert sorted(map(tuple, cat_rel.load_table("vertices").collect())) == v_loc
        assert sorted(map(tuple, cat_rel.load_table("edges").collect())) == e_loc
    finally:
        spark.conf.unset(CONF_KEY)
        spark.conf.unset(CKPT_DIR_KEY)


def test_stage_resume_kill_after_link(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """North-rule gate (stage-level resume beyond extract): a run killed
    after the link stage must, on resume, skip extract AND link and produce
    vertices/edges byte-identical to an uninterrupted run; a further rerun
    skips every stage; a changed alias dict invalidates link and everything
    downstream."""
    cat_full = ParquetCatalog(spark, str(tmp_path / "full"))
    cat_kill = ParquetCatalog(spark, str(tmp_path / "kill"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)

    run_pipeline(spark, docs, aliases, cat_full, PipelineConfig(run_id="w"))
    v_full = sorted(map(tuple, cat_full.load_table("vertices").collect()))
    e_full = sorted(map(tuple, cat_full.load_table("edges").collect()))

    # "crash" after link: only extract + link ran before the run died
    r1 = run_pipeline(
        spark, docs, aliases, cat_kill,
        PipelineConfig(run_id="w", stages=("extract", "link")),
    )
    assert r1["link_skipped"] is False

    # resume: extract + link are skipped, the rest computes
    r2 = run_pipeline(spark, docs, aliases, cat_kill, PipelineConfig(run_id="w"))
    assert r2["extract_pending_docs"] == 0
    assert r2["link_skipped"] is True
    assert r2["canonicalize_skipped"] is False
    assert r2["materialize_skipped"] is False
    assert sorted(map(tuple, cat_kill.load_table("vertices").collect())) == v_full
    assert sorted(map(tuple, cat_kill.load_table("edges").collect())) == e_full

    # a fully-completed run resumes as a no-op on every stage
    r3 = run_pipeline(spark, docs, aliases, cat_kill, PipelineConfig(run_id="w"))
    assert r3["extract_pending_docs"] == 0
    assert r3["link_skipped"] and r3["canonicalize_skipped"]
    assert r3["materialize_skipped"]
    assert sorted(map(tuple, cat_kill.load_table("vertices").collect())) == v_full

    # changed alias dict → link fingerprint mismatch → link + downstream
    # recompute (extract untouched: its fingerprint is docs-only)
    aliases_changed = aliases.where(F.col("entity_id") % 7 != 0)
    r4 = run_pipeline(
        spark, docs, aliases_changed, cat_kill, PipelineConfig(run_id="w")
    )
    assert r4["extract_pending_docs"] == 0
    assert r4["link_skipped"] is False
    assert r4["canonicalize_skipped"] is False


def test_partial_resume_only_missing_partitions(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """Seed a checkpoint marking a strict subset done; resume must process
    only the remaining partitions and the final triples must equal an
    uninterrupted run."""
    from openie_spark.plans import checkpoint as ckpt

    cat_full = ParquetCatalog(spark, str(tmp_path / "full"))
    cat_part = ParquetCatalog(spark, str(tmp_path / "part"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)

    run_pipeline(
        spark, docs, aliases, cat_full, PipelineConfig(run_id="u", stages=("extract",))
    )
    full = sorted(map(tuple, cat_full.load_table("triples").drop("partition_id").collect()))

    # interrupted run: process only partitions 0..31 of 64, record them done
    # under their PER-BUCKET fingerprints (the incremental gate compares
    # each bucket's own fp, not the run-global one)
    with_pid = ckpt.with_partition_id(docs, 64)
    pid_fps = ckpt.partition_fingerprints(with_pid)
    first_half = with_pid.where(F.col("partition_id") < 32)
    from openie_spark.operators.extract import extract_stage

    half_triples = extract_stage(first_half.drop("partition_id")).withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    )
    cat_part.write_table(half_triples, "triples", partition_by=["partition_id"])
    fp_df = spark.createDataFrame(
        sorted((p, f) for p, f in pid_fps.items() if p < 32),
        "partition_id int, input_fingerprint string",
    )
    stats = (
        first_half.groupBy("partition_id")
        .agg(F.count("*").alias("n_in"))
        .join(fp_df, "partition_id")
        .select(
            "partition_id",
            "n_in",
            F.lit(0).cast("long").alias("n_triples"),
            "input_fingerprint",
        )
    )
    ckpt.record_done(cat_part, "v", "extract", "unused-per-row-fps", stats, 0)

    res = run_pipeline(
        spark, docs, aliases, cat_part, PipelineConfig(run_id="v", stages=("extract",))
    )
    n_second_half = with_pid.where(F.col("partition_id") >= 32).count()
    assert res["extract_pending_docs"] == n_second_half  # only the missing half
    resumed = sorted(
        map(tuple, cat_part.load_table("triples").drop("partition_id").collect())
    )
    assert resumed == full


def test_chaos_mid_extract_torn_write_converges(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """Chaos gate (VERDICT r3 item 8): a crash MID-extract leaves a torn
    triples table — some partitions written (here even with corrupted
    content, harsher than any real crash) and NO checkpoint rows (the
    crash hit before the append).  Resume must treat everything as
    pending and the dynamic partition-overwrite must replace every torn
    partition: final triples byte-identical to an uninterrupted run."""
    from openie_spark.operators.extract import extract_stage
    from openie_spark.plans import checkpoint as ckpt

    cat_full = ParquetCatalog(spark, str(tmp_path / "full"))
    cat_chaos = ParquetCatalog(spark, str(tmp_path / "chaos"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)

    run_pipeline(
        spark, docs, aliases, cat_full, PipelineConfig(run_id="c", stages=("extract",))
    )
    full = sorted(
        map(tuple, cat_full.load_table("triples").drop("partition_id").collect())
    )

    # torn state: partitions 0..31 on disk with MANGLED rows, no checkpoint
    with_pid = ckpt.with_partition_id(docs, 64)
    half = with_pid.where(F.col("partition_id") < 32)
    torn = (
        extract_stage(half.drop("partition_id"))
        .withColumn("rel", F.lit("TORN-WRITE"))
        .withColumn(
            "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
        )
    )
    cat_chaos.write_table(torn, "triples", partition_by=["partition_id"])
    assert cat_chaos.load_table("triples").where("rel = 'TORN-WRITE'").count() > 0

    res = run_pipeline(
        spark, docs, aliases, cat_chaos, PipelineConfig(run_id="c", stages=("extract",))
    )
    assert res["extract_pending_docs"] == docs.count()  # nothing checkpointed
    got = sorted(
        map(tuple, cat_chaos.load_table("triples").drop("partition_id").collect())
    )
    assert got == full
    assert cat_chaos.load_table("triples").where("rel = 'TORN-WRITE'").count() == 0


def test_chaos_mid_link_partial_write_converges(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """Chaos gate, stage-level twin: a crash MID-link leaves a partial
    links table WITHOUT its sentinel row.  The stage gate (done_pids over
    the run state) requires the sentinel AND the table, so resume
    recomputes link (full overwrite replaces the partial table) and
    downstream output is byte-identical."""
    cat_full = ParquetCatalog(spark, str(tmp_path / "full"))
    cat_chaos = ParquetCatalog(spark, str(tmp_path / "chaos"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)

    run_pipeline(spark, docs, aliases, cat_full, PipelineConfig(run_id="k"))
    v_full = sorted(map(tuple, cat_full.load_table("vertices").collect()))
    e_full = sorted(map(tuple, cat_full.load_table("edges").collect()))

    # crash point: extract checkpointed, link died mid-write
    run_pipeline(
        spark, docs, aliases, cat_chaos,
        PipelineConfig(run_id="k", stages=("extract",)),
    )
    partial_links = cat_full.load_table("links").limit(17)
    cat_chaos.write_table(partial_links, "links")  # no sentinel row

    res = run_pipeline(spark, docs, aliases, cat_chaos, PipelineConfig(run_id="k"))
    assert res["extract_pending_docs"] == 0  # extract resumed as done
    assert res["link_skipped"] is False  # partial table not trusted
    assert sorted(map(tuple, cat_chaos.load_table("vertices").collect())) == v_full
    assert sorted(map(tuple, cat_chaos.load_table("edges").collect())) == e_full


def test_chaos_mid_materialize_partial_write_converges(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """Chaos gate, last-stage twin: extract/link/canonicalize all
    checkpointed, then the job dies mid-materialize leaving a PARTIAL
    edges table and no materialize sentinel.  Resume must honor the
    three upstream sentinels (no recompute) but distrust and fully
    rebuild the outputs: vertices + edges byte-identical to an
    uninterrupted run, no partial rows surviving."""
    cat_full = ParquetCatalog(spark, str(tmp_path / "full"))
    cat_chaos = ParquetCatalog(spark, str(tmp_path / "chaos"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)

    run_pipeline(spark, docs, aliases, cat_full, PipelineConfig(run_id="m"))
    v_full = sorted(map(tuple, cat_full.load_table("vertices").collect()))
    e_full = sorted(map(tuple, cat_full.load_table("edges").collect()))

    # crash point: everything upstream done; materialize died mid-write
    run_pipeline(
        spark, docs, aliases, cat_chaos,
        PipelineConfig(run_id="m", stages=("extract", "link", "canonicalize")),
    )
    cat_chaos.write_table(cat_full.load_table("edges").limit(13), "edges")
    # vertices never got written at all — an even earlier torn point

    res = run_pipeline(spark, docs, aliases, cat_chaos, PipelineConfig(run_id="m"))
    assert res["extract_pending_docs"] == 0
    assert res["link_skipped"] is True
    assert res["canonicalize_skipped"] is True
    assert res["materialize_skipped"] is False  # partial table not trusted
    assert sorted(map(tuple, cat_chaos.load_table("vertices").collect())) == v_full
    assert sorted(map(tuple, cat_chaos.load_table("edges").collect())) == e_full


def test_clustered_extract_plan_bit_identical(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """The one-shuffle clustered extract plan (bounded doc_id salt refining
    partition_id — no triples re-shuffle before the partitioned write) must
    produce the exact same triples TABLE (content AND partition_id layout)
    as the two-shuffle salted plan, and the auto switch must pick it for
    large inputs only."""
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)

    cat_salted = ParquetCatalog(spark, str(tmp_path / "salted"))
    cat_clustered = ParquetCatalog(spark, str(tmp_path / "clustered"))
    run_pipeline(
        spark, docs, aliases, cat_salted,
        PipelineConfig(
            run_id="ps", stages=("extract",), cluster_before_extract=False
        ),
    )
    run_pipeline(
        spark, docs, aliases, cat_clustered,
        PipelineConfig(
            run_id="pc", stages=("extract",), cluster_before_extract=True
        ),
    )
    a = sorted(map(tuple, cat_salted.load_table("triples").collect()))
    b = sorted(map(tuple, cat_clustered.load_table("triples").collect()))
    assert a == b and len(a) > 1000

    # auto mode: golden corpus (~hundreds of docs) stays on the salted plan;
    # a tiny per-sub-bucket threshold forces the clustered plan — both under
    # the default config surface users actually touch
    cat_auto = ParquetCatalog(spark, str(tmp_path / "auto"))
    run_pipeline(
        spark, docs, aliases, cat_auto,
        PipelineConfig(
            run_id="pa", stages=("extract",), cluster_min_docs_per_bucket=0
        ),
    )
    c = sorted(map(tuple, cat_auto.load_table("triples").collect()))
    assert c == a


def test_incremental_delta_append_recomputes_only_touched_buckets(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """Incremental resume: after a full run, appending docs that land in a
    few buckets re-extracts ONLY those buckets' docs, and the resulting
    triples are byte-identical to a from-scratch run on the full corpus."""
    from openie_spark.plans import checkpoint as ckpt

    cat = ParquetCatalog(spark, str(tmp_path / "inc"))
    cat_full = ParquetCatalog(spark, str(tmp_path / "full"))
    docs_all = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)

    # delta = every doc hashing into buckets {0,1,2} of 64 — confined by
    # construction, so the expected recompute set is exactly those buckets
    pid = F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    old = docs_all.where(pid >= 3)
    r1 = run_pipeline(
        spark, old, aliases, cat, PipelineConfig(run_id="inc", stages=("extract",))
    )
    assert r1["extract_pending_docs"] == old.count()

    n_delta = docs_all.where(pid < 3).count()
    assert 0 < n_delta < docs_all.count()
    r2 = run_pipeline(
        spark, docs_all, aliases, cat, PipelineConfig(run_id="inc", stages=("extract",))
    )
    assert r2["extract_pending_docs"] == n_delta  # only the delta buckets
    assert r2["extract_stale_partitions"] == 0

    run_pipeline(
        spark, docs_all, aliases, cat_full,
        PipelineConfig(run_id="f", stages=("extract",)),
    )
    inc_rows = sorted(map(tuple, cat.load_table("triples").collect()))
    full_rows = sorted(map(tuple, cat_full.load_table("triples").collect()))
    assert inc_rows == full_rows


def test_incremental_deletion_purges_stale_buckets(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """Buckets whose docs vanish from the input are purged from the triples
    table and their 'done' rows neutralized — and a later re-appearance of
    the identical content RECOMPUTES instead of serving the deleted dirs."""
    cat = ParquetCatalog(spark, str(tmp_path / "del"))
    docs_all = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)
    pid = F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    shrunk = docs_all.where(pid >= 3)

    run_pipeline(
        spark, docs_all, aliases, cat, PipelineConfig(run_id="d", stages=("extract",))
    )
    r2 = run_pipeline(
        spark, shrunk, aliases, cat, PipelineConfig(run_id="d", stages=("extract",))
    )
    assert r2["extract_pending_docs"] == 0  # surviving buckets untouched
    assert r2["extract_stale_partitions"] > 0
    # no stale triples: table equals a from-scratch run on the shrunk corpus
    cat_ref = ParquetCatalog(spark, str(tmp_path / "ref"))
    run_pipeline(
        spark, shrunk, aliases, cat_ref, PipelineConfig(run_id="r", stages=("extract",))
    )
    assert sorted(map(tuple, cat.load_table("triples").collect())) == sorted(
        map(tuple, cat_ref.load_table("triples").collect())
    )

    # identical content reappears: the dropped marker forces recompute
    r3 = run_pipeline(
        spark, docs_all, aliases, cat, PipelineConfig(run_id="d", stages=("extract",))
    )
    assert r3["extract_pending_docs"] == docs_all.where(pid < 3).count()
    cat_ref2 = ParquetCatalog(spark, str(tmp_path / "ref2"))
    run_pipeline(
        spark, docs_all, aliases, cat_ref2,
        PipelineConfig(run_id="r2", stages=("extract",)),
    )
    assert sorted(map(tuple, cat.load_table("triples").collect())) == sorted(
        map(tuple, cat_ref2.load_table("triples").collect())
    )


def test_incremental_zero_triple_recompute_purges_bucket(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """A bucket recomputed to ZERO triples (docs replaced by verb-free
    text) must not keep serving its old rows: dynamic partition-overwrite
    writes nothing for it, so the pre-write purge has to clear the dir."""
    from openie_spark.plans import checkpoint as ckpt

    cat = ParquetCatalog(spark, str(tmp_path / "z"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)
    run_pipeline(
        spark, docs, aliases, cat, PipelineConfig(run_id="z", stages=("extract",))
    )

    # replace ONE bucket's text with verb-free tokens (same doc_ids)
    pid = F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    target = cat.list_partitions("triples", "partition_id")[0]
    verbless = F.transform(
        "spans",
        lambda s: F.struct(
            s.kind.alias("kind"),
            F.when(s.kind == "text", F.lit("stone river tree")).otherwise(
                s.text
            ).alias("text"),
            s.media_ref.alias("media_ref"),
            s.offset.alias("offset"),
        ),
    )
    mutated = docs.withColumn(
        "spans", F.when(pid == target, verbless).otherwise(F.col("spans"))
    )
    r2 = run_pipeline(
        spark, mutated, aliases, cat, PipelineConfig(run_id="z", stages=("extract",))
    )
    assert r2["extract_pending_docs"] > 0
    assert target not in cat.list_partitions("triples", "partition_id")

    cat_ref = ParquetCatalog(spark, str(tmp_path / "zref"))
    run_pipeline(
        spark, mutated, aliases, cat_ref,
        PipelineConfig(run_id="zr", stages=("extract",)),
    )
    assert sorted(map(tuple, cat.load_table("triples").collect())) == sorted(
        map(tuple, cat_ref.load_table("triples").collect())
    )
    # same mutated input again: the zero-triple bucket stays done (absent
    # partition + matching fp is the CORRECT state, not a recompute signal)
    r3 = run_pipeline(
        spark, mutated, aliases, cat, PipelineConfig(run_id="z", stages=("extract",))
    )
    assert r3["extract_pending_docs"] == 0


def test_incremental_empty_input_refuses_to_purge(
    spark, golden_docs_path, alias_dict_path, tmp_path
):
    """An EMPTY input against a run with completed extract work must raise
    (transient feed glitch), leaving the corpus untouched — not silently
    purge every partition."""
    import pytest as _pytest

    cat = ParquetCatalog(spark, str(tmp_path / "e"))
    docs = load_docs(spark, golden_docs_path)
    aliases = load_alias_dict(spark, alias_dict_path)
    run_pipeline(
        spark, docs, aliases, cat, PipelineConfig(run_id="e", stages=("extract",))
    )
    before = cat.load_table("triples").count()
    with _pytest.raises(ValueError, match="refusing to purge"):
        run_pipeline(
            spark, docs.limit(0), aliases, cat,
            PipelineConfig(run_id="e", stages=("extract",)),
        )
    assert cat.load_table("triples").count() == before


class _NoCatalog:
    def __getattr__(self, name):
        raise AssertionError(f"catalog touched before stage validation: {name}")


@pytest.mark.parametrize(
    "stages",
    [(), ("materialize",), ("link", "materialize"), ("extract", "canonicalize")],
)
def test_stages_must_be_a_prefix(spark, stages):
    """Each stage reads its predecessor's table, so a stage list that skips
    one is rejected before the catalog is read — not run as a silent
    extract-only pipeline."""
    with pytest.raises(ValueError, match="prefix"):
        run_pipeline(
            spark, None, None, _NoCatalog(), PipelineConfig(stages=stages)
        )
