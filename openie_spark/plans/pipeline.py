"""EP-1: the full KG-construction pipeline (SURVEY.md §3).

    documents ─ resume-filter ─ salted-repartition ─ extract(UDF) ─ triples
      triples ─ mentions ─ exact ∪ LSH ∪ mint links
        links ─ sameAs edges ─ large/small-star CC ─ canonical ids
          triples ⋈ broadcast(mention→canonical) ─ edges table
          nodes  ⋈ canonical                     ─ vertices table
      + span-sequence invariant check, checkpoint rows

Graph model: every distinct mention_norm is a node (id = xxhash64(norm));
every linked dictionary entity is a node (id = entity_id).  sameAs edges
connect a mention node to its linked dict entity; minted mentions contribute
self-loops so they survive as isolated vertices.  Connected components then
canonicalize chains like {typo mention → dict entity ← exact mention} into
one canonical_id = min(component).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openie_spark.catalog import ParquetCatalog
from openie_spark.operators.components import connected_components
from openie_spark.operators.extract import extract_stage, mentions_from_triples
from openie_spark.operators.invariant import arrow_roundtrip, check_span_invariant
from openie_spark.operators.linking import link_mentions
from openie_spark.functions.lineage import cut_lineage
from openie_spark.operators.skew import salted_repartition
from openie_spark.plans import checkpoint as ckpt
from openie_spark.schemas import EDGES_SCHEMA, VERTICES_SCHEMA, assert_schema


# Each stage reads the table its predecessor wrote, so a run selects a
# non-empty prefix of this order (extract always runs; its resume gate makes
# a re-run over unchanged input cheap).
STAGES = ("extract", "link", "canonicalize", "materialize")


def validate_stages(stages) -> tuple:
    """``stages`` as a tuple; ValueError unless it is a non-empty prefix
    of :data:`STAGES`."""
    stages = tuple(stages)
    if not stages or stages != STAGES[: len(stages)]:
        raise ValueError(
            f"stages must be a non-empty prefix of {STAGES}, got {stages!r}"
        )
    return stages


@dataclass
class PipelineConfig:
    run_id: str = "run0"
    n_buckets: int = 64
    repartition: int | None = None  # default: spark.sql.shuffle.partitions
    # Extract-stage physical plan.  Both variants are salted repartitions
    # on doc_id (the north rule's driver); they differ in what the salt IS:
    #   False: full-width salt (xxhash64) → perfectly uniform extraction,
    #          but the triples output must be re-shuffled onto partition_id
    #          before the partitioned write — a second shuffle of the
    #          LARGER side (triples + deps outweigh the raw docs ~2:1).
    #   True:  bounded salt pmod(xxhash64(doc_id), gran) where gran is a
    #          multiple of n_buckets — the salt REFINES partition_id, so
    #          the UDF output is already clustered for the write and the
    #          triples shuffle disappears.  gran ≥ 16×shuffle-partitions
    #          sub-buckets keep extraction balanced.
    #   None (default): auto — clustered iff every sub-bucket holds ≥
    #          cluster_min_docs_per_bucket docs.  The threshold is RELATIVE
    #          (docs per sub-bucket, not total docs) so it self-scales with
    #          parallelism: measured interleaved A/B on this host — 200 k
    #          docs / 195-doc sub-buckets: clustered LOSES (≈9.8 s vs
    #          5.8 s; 1024 tiny files + 256 tiny UDF tasks dominate); 2 M
    #          docs / 3.9 k-doc sub-buckets: clustered WINS (29.6 s vs
    #          35.4 s), and at real network-shuffle scale the win grows
    #          with the triples-side volume (triples + deps outweigh the
    #          raw docs).  On a 1000-executor cluster (nparts ~16 k) the
    #          switch engages from ~256 M pending docs — the 10^12-doc
    #          regime the north star targets.
    cluster_before_extract: bool | None = None
    cluster_min_docs_per_bucket: int = 1000
    collect_counts: bool = True  # False: skip informational count() actions
    check_invariant: bool = True  # in-run span-sequence gate (OP-25)
    # Per-mille deterministic doc sample for the in-run invariant gate
    # (1000 = exhaustive).  The gate Arrow-roundtrips + reshuffles its
    # input — at 100 TB an exhaustive in-run check doubles corpus I/O for
    # a canary, so the default probes a hash-stable 5% slice (the same
    # docs every run); the EXHAUSTIVE per-row gate lives in pytest L3a
    # and the corruption-detection tests target the checker directly.
    invariant_sample_pm: int = 50
    stages: tuple = STAGES


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    alias_dict: DataFrame,
    cat: ParquetCatalog,
    cfg: PipelineConfig | None = None,
) -> dict:
    cfg = cfg or PipelineConfig()
    validate_stages(cfg.stages)
    out: dict = {"run_id": cfg.run_id}
    nparts = cfg.repartition or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # ---- extract stage (checkpointed, resumable) --------------------------
    # One driver-side checkpoint snapshot serves every stage gate below
    # (valid because gates only consult rows from BEFORE this run's
    # writes: extract's resume set is read pre-write, and each stage_done
    # is evaluated before that stage records anything).
    ck_state = ckpt.collect_run_state(cat, cfg.run_id)
    with_pid = ckpt.with_partition_id(docs, cfg.n_buckets)
    # Incremental resume: per-bucket fingerprints in ONE scan (the global
    # fingerprint for the downstream stage chain derives from their sums,
    # identical to a whole-input fingerprint).  A delta append/modify
    # changes only the touched buckets' fingerprints, so only those
    # re-extract — appending 1 TB to a 100 TB corpus costs ~1 TB of
    # extraction, not 100.
    pid_fps = ckpt.partition_fingerprints(with_pid)
    fingerprint = ckpt.global_fingerprint(pid_fps)
    done = ckpt.done_pids_by_fp(ck_state, "extract", pid_fps)
    if not pid_fps and any(s == "extract" for (s, *_rest) in ck_state):
        # Destructive-guard: an EMPTY input against a run that already
        # extracted would purge every triples partition — almost always a
        # transient upstream feed glitch, never silently actionable.
        # Intentionally emptying a corpus takes a fresh run_id/table.
        raise ValueError(
            f"run {cfg.run_id!r}: input is empty but the checkpoint has "
            "completed extract work — refusing to purge the corpus; use a "
            "new run_id (and table root) if this is intentional"
        )
    todo = (
        with_pid.where(~F.col("partition_id").isin(sorted(done)))
        if done
        else with_pid
    )

    with ckpt.StageTimer() as t_extract:
        pending = todo.count()
        if pending > 0:
            # Purge the partitions being RECOMPUTED before the write:
            # dynamic partition-overwrite only replaces partitions present
            # in the written output, so a bucket whose new extraction
            # yields ZERO triples would otherwise keep serving its old
            # rows while being checkpointed done under the new
            # fingerprint.  Crash-safe: if we die after the purge, these
            # buckets' done rows carry the OLD fingerprint, so the next
            # run recomputes them.
            recompute = sorted(set(pid_fps) - done)
            if cat.exists("triples"):
                cat.drop_partitions("triples", "partition_id", recompute)
            factor = max(1, -(-16 * nparts // cfg.n_buckets))
            gran = cfg.n_buckets * factor
            clustered = cfg.cluster_before_extract
            if clustered is None:
                clustered = pending >= gran * cfg.cluster_min_docs_per_bucket
            # partition_id is a pure function of doc_id — recompute, don't join
            pid_expr = F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_buckets)).cast(
                "int"
            )
            if clustered:
                # Bounded-salt repartition: gran is a multiple of n_buckets,
                # so pmod(h, gran) determines pmod(h, n_buckets) and every
                # task holds whole sub-buckets → the partitioned write below
                # needs NO second shuffle (file count = gran, not tasks ×
                # buckets).  4×nparts tasks → ≥4 scheduling waves smooth the
                # sub-bucket-granularity imbalance.
                sub = F.pmod(F.xxhash64("doc_id"), F.lit(gran)).cast("int")
                balanced = todo.drop("partition_id").repartition(4 * nparts, sub)
                triples_out = extract_stage(balanced).withColumn(
                    "partition_id", pid_expr
                )
            else:
                balanced = salted_repartition(todo, nparts, "doc_id")
                triples = extract_stage(balanced.drop("partition_id")).withColumn(
                    "partition_id", pid_expr
                )
                # cluster rows by bucket before the partitioned write: without
                # this every write task touches every partition dir and the
                # file count explodes with core count (tasks × buckets tiny
                # files — worse at higher parallelism AND at 1000 executors)
                triples_out = triples.repartition(cfg.n_buckets, "partition_id")
            cat.write_table(triples_out, "triples", partition_by=["partition_id"])
            # per-partition metrics from the WRITTEN table — recomputing
            # `triples` here would re-run the whole extraction UDF a second
            # time (DataFrame actions do not reuse shuffle/UDF work)
            # n_in per bucket is already on the driver (the 'n:' half of
            # each fingerprint) — rebuilding it from the corpus would be a
            # whole redundant scan at the 100 TB posture; only the written-
            # triples counts need a (cheap, output-side) aggregation.
            base = spark.createDataFrame(
                [(p, int(f.split(":")[0]), f) for p, f in sorted(pid_fps.items())],
                "partition_id int, n_in long, input_fingerprint string",
            )
            stats = (
                base.join(
                    cat.load_table("triples")
                    .groupBy("partition_id")
                    .agg(F.count("*").alias("n_triples")),
                    "partition_id",
                    "left",
                )
                .select(
                    "partition_id",
                    "n_in",
                    F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
                    "input_fingerprint",  # per-bucket fp -> incremental gate
                )
            )
    if pending > 0:
        ckpt.record_done(
            cat, cfg.run_id, "extract", fingerprint, stats, t_extract.wall_ms
        )
    # Purge buckets whose docs VANISHED from the input.  The stale set is
    # derived from the table's ON-DISK partition listing (not checkpoint
    # state), so the purge is idempotent under a crash at any point; the
    # 'dropped' marker is appended BEFORE the delete — marker-without-
    # delete re-purges next run, delete-without-marker would gate a
    # reappearance of identical content as done with its data gone.
    stale: list[int] = []
    if cat.exists("triples"):
        stale = sorted(
            set(cat.list_partitions("triples", "partition_id")) - set(pid_fps)
        )
        if stale:
            ckpt.record_dropped(cat, cfg.run_id, "extract", stale)
            cat.drop_partitions("triples", "partition_id", stale)
    out["extract_stale_partitions"] = len(stale)
    triples = cat.load_table("triples").drop("partition_id")
    if cfg.collect_counts:
        out["n_triples"] = triples.count()
    out["extract_wall_ms"] = t_extract.wall_ms
    out["extract_pending_docs"] = pending

    # ---- invariant gate (OP-25) -------------------------------------------
    # The thorough per-row byte-equality gate lives in pytest (L3a, input
    # hint: "verify with pytest"); this in-run check compares the source
    # against an identity Arrow-roundtrip + shuffle lineage — the two
    # hazards extraction exposes documents to — so it checks two genuinely
    # different computations.  Two extra full scans; operators running
    # fixed-cost-sensitive jobs may disable it.
    if cfg.check_invariant:
        probe = docs
        if cfg.invariant_sample_pm < 1000:
            probe = docs.where(
                F.pmod(F.xxhash64("doc_id"), F.lit(1000)) < cfg.invariant_sample_pm
            )
        inv = check_span_invariant(probe, arrow_roundtrip(probe))
        out["span_invariant"] = inv
        if not inv["ok"]:
            raise AssertionError(f"span invariant violated: {inv}")
    if "link" not in cfg.stages:
        return out

    # ---- stage-level resume fingerprints ----------------------------------
    # Downstream stages are GLOBAL computations (mention vocabulary /
    # component graph), so their resume unit is the stage (sentinel
    # checkpoint row, ckpt.STAGE_SENTINEL_PID).  Fingerprints chain: link
    # depends on the docs AND the alias dict; canonicalize + materialize
    # are deterministic functions of the link output, so they share the
    # link fingerprint — any upstream change invalidates all of them.
    alias_fp = ckpt.table_fingerprint(alias_dict)
    link_fp = f"{fingerprint}+{alias_fp}"

    # ---- link stage (stage-level checkpointed, resumable) -----------------
    link_done = ckpt.STAGE_SENTINEL_PID in ckpt.done_pids(
        ck_state, "link", link_fp
    ) and cat.exists("links")
    with ckpt.StageTimer() as t_link:
        mentions = mentions_from_triples(triples)
        if link_done:
            links = cat.load_table("links")
        else:
            links = cut_lineage(link_mentions(mentions, alias_dict), eager=True)
            cat.write_table(links, "links")
    if cfg.collect_counts:
        out["n_links"] = links.count()
    if not link_done:
        ckpt.record_stage_done(
            cat,
            cfg.run_id,
            "link",
            link_fp,
            -1,
            out.get("n_links", -1),
            t_link.wall_ms,
        )
    out["link_wall_ms"] = t_link.wall_ms
    out["link_skipped"] = link_done
    if "canonicalize" not in cfg.stages:
        return out

    # ---- canonicalize (stage-level checkpointed, resumable) ---------------
    canon_done = ckpt.STAGE_SENTINEL_PID in ckpt.done_pids(
        ck_state, "canonicalize", link_fp
    ) and cat.exists("cc_assign")
    with ckpt.StageTimer() as t_canon:
        if canon_done:
            cc = cat.load_table("cc_assign")
        else:
            mention_nodes = links.select(
                F.xxhash64("mention_norm").alias("src"),
                F.col("entity_id").alias("dst"),
                "method",
            )
            sameas = mention_nodes.where(F.col("method") != "minted").select(
                "src", "dst"
            )
            self_loops = mention_nodes.where(F.col("method") == "minted").select(
                F.col("dst").alias("src"), F.col("dst").alias("dst")
            )
            cc = connected_components(sameas.unionByName(self_loops))
            cc = cut_lineage(cc, eager=True)
            cat.write_table(cc, "cc_assign")
    if cfg.collect_counts:
        out["n_components"] = cc.select("rep").distinct().count()
    if not canon_done:
        ckpt.record_stage_done(
            cat,
            cfg.run_id,
            "canonicalize",
            link_fp,
            -1,
            out.get("n_components", -1),
            t_canon.wall_ms,
        )
    out["canonicalize_wall_ms"] = t_canon.wall_ms
    out["canonicalize_skipped"] = canon_done
    if "materialize" not in cfg.stages:
        return out

    # ---- materialize vertices + edges (stage-level checkpointed) ----------
    mat_done = (
        ckpt.STAGE_SENTINEL_PID in ckpt.done_pids(ck_state, "materialize", link_fp)
        and cat.exists("vertices")
        and cat.exists("edges")
    )
    if mat_done:
        if cfg.collect_counts:
            out["n_vertices"] = cat.load_table("vertices").count()
            out["n_edges"] = cat.load_table("edges").count()
        out["materialize_wall_ms"] = 0
        out["materialize_skipped"] = True
        return out
    with ckpt.StageTimer() as t_mat:
        # node table: mention nodes + dict entity nodes
        mention_counts = mentions.groupBy("mention_norm").agg(
            F.count("*").alias("n_mentions")
        )
        mention_vertices = (
            links.join(mention_counts, "mention_norm", "left")
            .select(
                F.xxhash64("mention_norm").alias("entity_id"),
                F.col("mention_norm").alias("name"),
                F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
            )
        )
        dict_vertices = (
            links.where(F.col("method") != "minted")
            .join(
                alias_dict.select("entity_id", "entity_name").dropDuplicates(
                    ["entity_id"]
                ),
                "entity_id",
            )
            .select(
                "entity_id",
                F.col("entity_name").alias("name"),
                F.lit(0).cast("long").alias("n_mentions"),
            )
            .dropDuplicates(["entity_id"])
        )
        nodes = mention_vertices.unionByName(dict_vertices).dropDuplicates(
            ["entity_id"]
        )
        vertices = (
            nodes.join(cc, nodes.entity_id == cc.id, "left")
            .select(
                "entity_id",
                F.coalesce("rep", F.col("entity_id")).alias("canonical_id"),
                "name",
                "n_mentions",
            )
        )
        assert_schema(vertices, VERTICES_SCHEMA, "vertices")

        # triples → canonical edges; mention_norm → node id → canonical id
        norm_to_canon = links.select(
            "mention_norm", F.xxhash64("mention_norm").alias("node_id")
        ).join(cc, F.col("node_id") == cc.id, "left").select(
            "mention_norm",
            F.coalesce("rep", F.col("node_id")).alias("canonical_id"),
        )
        # The canonical map is vocabulary-bounded, so both joins broadcast
        # it: the triples table is never shuffled, and a hot entity costs
        # nothing extra because no partition gathers its rows.
        subj_canon = norm_to_canon.toDF("subj_norm", "subj_canonical")
        obj_canon = norm_to_canon.toDF("arg_norm", "obj_canonical")
        edges = (
            triples.join(F.broadcast(subj_canon), "subj_norm")
            .join(F.broadcast(obj_canon), "arg_norm")
            .select(
                "subj_canonical",
                F.col("rel").alias("pred"),
                "obj_canonical",
                "doc_id",
                "sent_idx",
                "conf",
            )
        )
        assert_schema(edges, EDGES_SCHEMA, "edges")
        cat.write_table(vertices, "vertices")
        cat.write_table(edges, "edges")
    if cfg.collect_counts:
        out["n_vertices"] = cat.load_table("vertices").count()
        out["n_edges"] = cat.load_table("edges").count()
    ckpt.record_stage_done(
        cat,
        cfg.run_id,
        "materialize",
        link_fp,
        -1,
        out.get("n_edges", -1),
        t_mat.wall_ms,
    )
    out["materialize_wall_ms"] = t_mat.wall_ms
    out["materialize_skipped"] = False
    return out
