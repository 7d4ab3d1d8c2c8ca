#!/usr/bin/env python3
"""The repository benchmark: cold Spark applications over seeded inputs.

    python3 perfbench/run.py --workload build|kg_query --seed N --seconds S --trace 0|1

Run it from the root of a checkout.  Each run is one closed-loop client
(this process) on ``local[<cores>]`` with the library's default
``get_spark`` settings, started cold the way a ``jobs/run_pipeline.py``
submission starts.  ``perfbench/README.md`` explains the workloads, the
metrics and which end-to-end metric each layer metric should move.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, sets a job group around each call into a layer, and prints
the per-layer metrics.  The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import functools  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CACHE = BENCH / ".cache"  # seeded inputs and untraced timings, kept across runs
WORK = BENCH / ".work"  # this run's Spark dirs, catalog and event log
STAR_DIR = BENCH / "data" / "tpch_sf0.01"  # key columns of TPC-H sf0.01 (inputs.export_star)

N_DOCS = 20_000
DELTA_DOCS = N_DOCS // 100
ORACLE_SAMPLE_PM = 10  # per-mille hash sample of build docs checked against the oracle
INVARIANT_SAMPLE_PM = 50  # PipelineConfig.invariant_sample_pm
BLOCKING_SAMPLE_PM = 10  # per-mille hash sample of mentions for blocking quality
N_BUCKETS = 64  # PipelineConfig.n_buckets
DRIVER_MEM = "4g"
MB = 1024 * 1024

STAGES = ("extract", "link", "canonicalize", "materialize")
STAGE_LAYER = {"extract": "extract", "link": "linking", "canonicalize": "components",
               "materialize": "materialize"}
WORKLOADS = ("build", "kg_query")
KG_QUERIES = {"bgp": "kg_bgp", "pagerank": "entity_salience", "walks": "kg_walks"}
GROUPS = ("sources", "checkpoint", "extract", "invariant", "linking", "components",
          "materialize", "bgp", "pagerank", "walks")
TABLES = ("triples", "links", "cc_assign", "vertices", "edges", "checkpoint")
TRIPLE_COLS = ("doc_id", "sent_idx", "subj", "rel", "arg", "subj_norm", "arg_norm",
               "conf", "clause_type", "deps", "conj", "ruleset")
COUNTS = ("n_triples", "n_links", "n_components", "n_vertices", "n_edges")

END_TO_END = {"setup_s": "s", "wall_s": "s"}


def per_layer_units() -> dict[str, str]:
    from eventlog import GROUP_METRICS

    return {
        "sources.scan_s": "s", "sources.input_mb": "MB",
        "checkpoint.fingerprint_s": "s", "checkpoint.resume_s": "s",
        "checkpoint.reextract_docs": "count", "checkpoint.reextract_ratio": "ratio",
        "extract.wall_s": "s", "extract.kernel_s": "s", "extract.triples_out": "count",
        "extract.core_util": "ratio",
        "invariant.check_s": "s",
        "linking.wall_s": "s", "linking.mentions_distinct": "count",
        "linking.exact": "count", "linking.lsh": "count", "linking.minted": "count",
        "linking.pairs_completeness_ppm": "ppm", "linking.reduction_ratio_ppm": "ppm",
        "components.wall_s": "s", "components.n_components": "count",
        "materialize.wall_s": "s",
        "catalog.files_written": "count", "catalog.written_mb": "MB",
        **{f"catalog.written_mb.{t}": "MB" for t in TABLES},
        "refresh.wall_s": "s", "refresh.written_mb": "MB",
        **{f"{layer}.wall_s": "s" for layer in KG_QUERIES},
        **{f"{g}.{m}": u for g in GROUPS for m, u in GROUP_METRICS.items()},
        "driver.peak_rss_mb": "MB",
        "trace.wall_s": "s", "trace.overhead_s": "s",
    }


# ---- files -----------------------------------------------------------------

def file_state(root: Path) -> dict[str, tuple[int, int]]:
    """relative path -> (inode, size) of every regular file under root."""
    if not root.exists():
        return {}
    return {str(p.relative_to(root)): (p.stat().st_ino, p.stat().st_size)
            for p in root.rglob("*") if p.is_file()}


def created_files(before: dict, after: dict) -> dict[str, int]:
    """Files new or replaced between two snapshots, with their sizes."""
    return {p: size for p, (ino, size) in after.items() if before.get(p, (None,))[0] != ino}


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK/CACHE."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["OPENIE_FIXTURE_DIR"] = str(CACHE / "fixtures")
    os.environ["OPENIE_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, spark-submit's launcher too: no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    for p in (str(ROOT), str(BENCH)):
        if p not in sys.path:
            sys.path.insert(0, p)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---- one run -----------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.context: dict[str, float] = {}  # printed, not gated

    # -- session lifecycle ----------------------------------------------------
    def start_spark(self) -> None:
        from openie_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        }
        if self.trace:
            from eventlog import EVENTLOG_CONF

            conf.update(EVENTLOG_CONF)
            conf["spark.eventLog.dir"] = (WORK / "eventlog").as_uri()
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def jvm_peak_rss_mb(self) -> float:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        try:
            for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        except (AttributeError, OSError):
            pass
        return 0.0

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM, and the Python workers it owns,
        to exit: the gateway JVM exits when its stdin pipe closes."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name:
            sc.setJobGroup(name, f"perfbench {name}")
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def timed(self, group: str, fn):
        """(fn(), seconds) with fn's Spark jobs under job group ``group``."""
        self.group(group)
        t0 = time.perf_counter()
        try:
            return fn(), time.perf_counter() - t0
        finally:
            self.group(None)

    # -- correctness (untimed) ------------------------------------------------
    def checked(self, fn, *args) -> bool:
        """Count one attempted operation; a raise or a failed check fails it."""
        self.attempted += 1
        try:
            problems = fn(*args)
        except Exception:  # noqa: BLE001 — reported, then counted as failed
            traceback.print_exc()
            problems = ["raised"]
        if problems:
            self.failed += 1
            print(f"perfbench: check failed: {problems}", file=sys.stderr)
        return not problems

    # -- inputs ---------------------------------------------------------------
    def prepare_files(self) -> None:
        """Generate or look up this seed's inputs (no Spark needed).  The
        KG queries read the committed ``STAR_DIR``; the seed picks nothing
        there."""
        import inputs

        if self.workload == "build":
            from openie_spark.fixtures.entities import ensure_alias_dict

            self.alias_path = ensure_alias_dict()
            self.corpus_dir = inputs.corpus(CACHE, N_DOCS, self.seed, procs=self.cores)
            if self.trace:
                self.delta_dir = inputs.corpus(CACHE, DELTA_DOCS, self.seed,
                                               first_chunk=inputs.DELTA_FIRST_CHUNK,
                                               procs=self.cores)
            self.catalog_root = WORK / "catalog"

    def load_inputs(self) -> None:
        if self.workload == "build":
            from openie_spark.sources.tables import load_alias_dict, load_docs

            self.aliases = load_alias_dict(self.spark, self.alias_path)
            self.docs = load_docs(self.spark, str(self.corpus_dir))

    # -- build ------------------------------------------------------------------
    def catalog(self):
        from openie_spark.catalog import ParquetCatalog

        return ParquetCatalog(self.spark, str(self.catalog_root))

    def pipeline(self, docs, stages=STAGES) -> tuple[dict, float, dict[str, int]]:
        """One default ``run_pipeline`` call: (result, seconds, files created)."""
        from openie_spark.plans.pipeline import PipelineConfig, run_pipeline

        before = file_state(self.catalog_root)
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, docs, self.aliases, self.catalog(),
                           PipelineConfig(stages=tuple(stages)))
        wall = time.perf_counter() - t0
        return res, wall, created_files(before, file_state(self.catalog_root))

    def check_build(self, res: dict, oracle_docs: list[dict]) -> list[str]:
        """The catalog's triples for ``oracle_docs`` equal the oracle's, and
        the counts ``run_pipeline`` reports match its tables."""
        from pyspark.sql import functions as F

        from openie_spark.spec.oracle import oracle_triples

        problems = []
        triples = self.catalog().load_table("triples").select(*TRIPLE_COLS)
        if res["n_triples"] <= 0 or res["n_triples"] != triples.count():
            problems.append("n_triples does not match the triples table")
        # edges are binary relations: SV triples carry no object (arg_norm '')
        if res["n_edges"] != triples.where(F.col("arg_norm") != "").count():
            problems.append("n_edges != triples with arg_norm != ''")
        if not res["span_invariant"]["ok"]:
            problems.append("span invariant")
        if not res["n_vertices"] >= res["n_components"] > 0:
            problems.append("n_vertices < n_components")
        ids = sorted(d["doc_id"] for d in oracle_docs)
        want = Counter(tuple(t[c] for c in TRIPLE_COLS) for t in oracle_triples(oracle_docs))
        got = Counter(tuple(r) for r in triples.where(F.col("doc_id").isin(ids)).collect())
        if not ids or want != got:
            problems.append(f"triples of {len(ids)} sampled docs differ from the oracle")
        return problems

    @staticmethod
    def check_resume(res: dict, ref: dict) -> list[str]:
        """A re-run over unchanged input skips every stage and changes nothing."""
        problems = [f"{s} not skipped" for s in STAGES[1:] if res.get(f"{s}_skipped") is not True]
        if res.get("extract_pending_docs") != 0:
            problems.append("extract re-ran")
        return problems + [f"{k} changed" for k in COUNTS if res.get(k) != ref.get(k)]

    def oracle_sample(self) -> list[dict]:
        """The hash-stable ``ORACLE_SAMPLE_PM`` per-mille doc sample."""
        from pyspark.sql import functions as F

        import inputs

        sample = self.docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(1000)) < ORACLE_SAMPLE_PM)
        return inputs.read_docs(self.corpus_dir, {r.doc_id for r in sample.select("doc_id").collect()})

    def build(self) -> dict[str, float]:
        setup_s = time.perf_counter() - T_PROCESS
        res, wall, written = self.pipeline(self.docs)
        self.checked(self.check_build, res, self.oracle_sample())
        self.context.update(docs_per_s=N_DOCS / wall, triples_per_s=res["n_triples"] / wall,
                            written_mb=sum(written.values()) / MB)
        self.context.update({f"{s}_s": res[f"{s}_wall_ms"] / 1000 for s in STAGES})
        return {"setup_s": setup_s, "wall_s": wall}

    # -- kg_query -----------------------------------------------------------------
    def oracle_frames(self) -> dict:
        """Each query's DuckDB oracle result."""
        import duckdb

        from openie_spark.plans import registry

        con = duckdb.connect()
        try:
            for f in sorted(STAR_DIR.glob("*.parquet")):
                con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
            return {name: con.execute(registry.ORACLE_SQL[name]).df() for name in KG_QUERIES.values()}
        finally:
            con.close()

    def query_mix(self) -> tuple[dict, float]:
        """The three registry queries, each forced by collecting its small
        result under its layer's job group: (results and times, seconds)."""
        from openie_spark.plans import registry

        out, total = {}, 0.0
        for layer, name in KG_QUERIES.items():
            query = registry.QUERIES[name]
            out[name], t = self.timed(layer, lambda: query(self.spark, str(STAR_DIR)).toPandas())
            out[f"{layer}.wall_s"] = t
            total += t
        return out, total

    @staticmethod
    def check_mix(got: dict, want: dict) -> list[str]:
        from openie_spark.plans.compare import compare_frames

        problems = []
        for name, oracle in want.items():
            cmp = compare_frames(got[name], oracle)
            if not cmp["hash_match"] or cmp["spark_rows"] == 0:
                problems.append(f"{name}: {cmp}")
        return problems

    def kg_query(self) -> dict[str, float]:
        setup_s = time.perf_counter() - T_PROCESS
        got, wall = self.query_mix()
        self.checked(self.check_mix, got, self.oracle_frames())
        self.context.update({f"{layer}.wall_s": got[f"{layer}.wall_s"] for layer in KG_QUERIES})
        return {"setup_s": setup_s, "wall_s": wall}

    # -- traced runs ----------------------------------------------------------------
    def traced(self, untraced_wall: float) -> dict[str, float]:
        L = dict.fromkeys(per_layer_units(), 0.0)
        if self.workload == "build":
            self.trace_build(L)
        else:
            got, L["trace.wall_s"] = self.query_mix()
            self.checked(self.check_mix, got, self.oracle_frames())
            for layer in KG_QUERIES:
                L[f"{layer}.wall_s"] = got[f"{layer}.wall_s"]
        L["trace.overhead_s"] = L["trace.wall_s"] - untraced_wall
        L["driver.peak_rss_mb"] = self.jvm_peak_rss_mb()
        self.stop_spark()

        from eventlog import GROUP_METRICS, parse

        groups = parse(WORK / "eventlog")
        for g in GROUPS:
            for m in GROUP_METRICS:
                L[f"{g}.{m}"] = groups.get(g, {}).get(m, 0.0)
        if L["extract.kernel_s"]:
            busy = groups.get("extract.kernel", {}).get("task_busy_s", 0.0)
            L["extract.core_util"] = busy / (L["extract.kernel_s"] * self.cores)
        return L

    def trace_build(self, L: dict) -> None:
        from pyspark.sql import functions as F

        import inputs
        from openie_spark.operators.extract import extract_stage, mentions_from_triples
        from openie_spark.operators.invariant import arrow_roundtrip, check_span_invariant
        from openie_spark.operators.linking import blocking_quality
        from openie_spark.plans import checkpoint as ckpt
        from openie_spark.sources.tables import load_docs

        # One run_pipeline call per added stage, under that stage's layer
        # group: each call does its stage plus the resume gates, which skip
        # the stages already done.
        written: dict[str, int] = {}
        for i, stage in enumerate(STAGES):
            (res, wall, files), _ = self.timed(
                STAGE_LAYER[stage], lambda: self.pipeline(self.docs, STAGES[: i + 1]))
            L["trace.wall_s"] += wall
            L[f"{STAGE_LAYER[stage]}.wall_s"] = res[f"{stage}_wall_ms"] / 1000
            written.update(files)
        self.checked(self.check_build, res, self.oracle_sample())
        L["components.n_components"] = res["n_components"]
        L["catalog.files_written"] = len(written)
        L["catalog.written_mb"] = sum(written.values()) / MB
        for t in TABLES:
            L[f"catalog.written_mb.{t}"] = sum(
                s for p, s in written.items() if p.split(os.sep)[0] == t) / MB
        (again, _), L["checkpoint.resume_s"] = self.timed(
            "resume", lambda: self.pipeline(self.docs)[:2])
        self.checked(self.check_resume, again, res)

        # each layer's public functions, called alone
        _, L["sources.scan_s"] = self.timed("sources", lambda: force(self.docs))
        L["sources.input_mb"] = sum(f.stat().st_size for f in self.corpus_dir.glob("*.parquet")) / MB
        _, L["checkpoint.fingerprint_s"] = self.timed(
            "checkpoint",
            lambda: ckpt.partition_fingerprints(ckpt.with_partition_id(self.docs, N_BUCKETS)))
        L["extract.triples_out"], L["extract.kernel_s"] = self.timed(
            "extract.kernel", lambda: extract_stage(self.docs).count())
        probe = self.docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(1000)) < INVARIANT_SAMPLE_PM)
        inv, L["invariant.check_s"] = self.timed(
            "invariant", lambda: check_span_invariant(probe, arrow_roundtrip(probe)))
        self.checked(lambda: [] if inv["ok"] else [f"span invariant: {inv}"])

        self.group("diagnostics")
        cat = self.catalog()
        # every distinct mention gets exactly one link: exact, lsh or minted
        for r in cat.load_table("links").groupBy("method").count().collect():
            L[f"linking.{r['method']}"] = r["count"]
            L["linking.mentions_distinct"] += r["count"]
        mentions = mentions_from_triples(cat.load_table("triples"))
        # blocking_quality's brute-force truth pass over every distinct
        # mention takes minutes; its docstring's hash sample keeps the
        # metric's definition
        sampled = mentions.where(
            F.pmod(F.xxhash64("mention_norm"), F.lit(1000)) < BLOCKING_SAMPLE_PM)
        quality = blocking_quality(sampled, self.aliases).collect()[0]
        L["linking.pairs_completeness_ppm"] = quality["pairs_completeness_ppm"]
        L["linking.reduction_ratio_ppm"] = quality["reduction_ratio_ppm"]
        base_fp = ckpt.table_fingerprint(
            cat.load_table("triples").select(*TRIPLE_COLS), list(TRIPLE_COLS))
        self.group(None)

        # Incremental refresh: append a 1% delta of new doc ids and re-run.
        grown = self.docs.unionByName(load_docs(self.spark, str(self.delta_dir)))
        (fresh, wall, files), _ = self.timed("refresh", lambda: self.pipeline(grown))
        L["refresh.wall_s"] = wall
        L["refresh.written_mb"] = sum(files.values()) / MB
        L["checkpoint.reextract_docs"] = fresh["extract_pending_docs"]
        L["checkpoint.reextract_ratio"] = fresh["extract_pending_docs"] / DELTA_DOCS
        self.checked(self.check_refresh, fresh, res, base_fp,
                     inputs.read_docs(self.delta_dir, None))

    def check_refresh(self, fresh: dict, res: dict, base_fp: str, delta_docs: list[dict]) -> list[str]:
        """The delta adds exactly its oracle triples and leaves the triples of
        every earlier doc untouched."""
        from pyspark.sql import functions as F

        from openie_spark.plans.checkpoint import table_fingerprint
        from openie_spark.spec.oracle import oracle_triples

        problems = self.check_build(fresh, delta_docs)
        if fresh["n_triples"] != res["n_triples"] + len(oracle_triples(delta_docs)):
            problems.append("n_triples != build triples + oracle triples of the delta")
        ids = sorted(d["doc_id"] for d in delta_docs)
        old = self.catalog().load_table("triples").select(*TRIPLE_COLS).where(
            ~F.col("doc_id").isin(ids))
        if table_fingerprint(old, list(TRIPLE_COLS)) != base_fp:
            problems.append("triples of pre-delta docs changed")
        return problems


# ---- untraced timings, for the tracing overhead ----------------------------------

@functools.lru_cache(maxsize=None)
def source_digest() -> str:
    """Hash of the library and benchmark sources: untraced timings recorded
    under another digest belong to other code."""
    h = hashlib.sha256()
    for root in (ROOT / "openie_spark", BENCH):
        for p in sorted(root.rglob("*.py")):
            if ".cache" not in p.parts and ".work" not in p.parts:
                h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def _untraced_log(workload: str) -> Path:
    return CACHE / "untraced" / f"{workload}-{source_digest()}.jsonl"


def record_untraced(workload: str, seed: int, wall: float) -> None:
    path = _untraced_log(workload)
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("a") as f:
        f.write(json.dumps({"seed": seed, "wall_s": wall}) + "\n")


def record_missing_untraced(args) -> None:
    """The first run with these sources records one untraced ``wall_s`` for
    every workload that has none, each in a child run.  A later traced run
    then never waits for a child: a traced ``build`` plus an untraced one
    would overrun a run's time limit.  Only the first run in a checkout
    pays for this."""
    if os.environ.get("PERFBENCH_CHILD"):
        return
    for workload in WORKLOADS:
        if _untraced_log(workload).exists() or (workload == args.workload and not args.trace):
            continue
        subprocess.run([sys.executable, str(Path(__file__)), "--workload", workload,
                        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
                       cwd=ROOT, check=True, stdout=sys.stderr, timeout=300,
                       env={**os.environ, "PERFBENCH_CHILD": "1"})


def untraced_wall(workload: str) -> float:
    """Median untraced ``wall_s`` of ``workload`` with these sources."""
    lines = _untraced_log(workload).read_text().splitlines()
    return statistics.median(json.loads(line)["wall_s"] for line in lines if line)


def host_probe() -> dict:
    """jobs/host_probe.py's signals with a short steal window: context only."""
    sys.path.insert(0, str(ROOT / "jobs"))
    try:
        from host_probe import probe

        return probe(steal_window_s=0.5)
    finally:
        sys.path.remove(str(ROOT / "jobs"))


def main(argv: list[str] | None = None) -> int:
    global T_PROCESS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "openie_spark" / "__init__.py").is_file():
        print(f"perfbench: no openie_spark package in {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    t_children = time.perf_counter()
    record_missing_untraced(args)
    T_PROCESS += time.perf_counter() - t_children  # other runs, not this run's set-up
    reference = untraced_wall(args.workload) if args.trace else 0.0
    isolate_environment()
    t_probe = time.perf_counter()
    before = host_probe()
    T_PROCESS += time.perf_counter() - t_probe  # the probe is context, not set-up
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        t_inputs = time.perf_counter()
        run.prepare_files()
        T_PROCESS += time.perf_counter() - t_inputs  # generating inputs is not set-up either
        run.start_spark()
        run.load_inputs()
        if args.trace:
            metrics, units = run.traced(reference), per_layer_units()
        else:
            metrics = run.build() if args.workload == "build" else run.kg_query()
            units = END_TO_END
    finally:
        run.stop_spark()
        shutil.rmtree(WORK, ignore_errors=True)
    if not args.trace and run.failed == 0:
        record_untraced(args.workload, args.seed, metrics["wall_s"])
    after = host_probe()
    print(f"host_probe before: {json.dumps(before)}")
    print(f"host_probe after:  {json.dumps(after)}")
    print(f"error_rate {run.failed / max(1, run.attempted):.4f} "
          f"({run.failed} of {run.attempted} operations)")
    for name, value in run.context.items():
        print(f"context {name} {value:.6g}")
    if not args.trace and metrics["wall_s"] > args.seconds:
        print(f"perfbench: the timed operation ran {metrics['wall_s']:.1f} s, "
              f"over --seconds {args.seconds:g}", file=sys.stderr)
    for name, unit in units.items():
        print(f"{name} {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
