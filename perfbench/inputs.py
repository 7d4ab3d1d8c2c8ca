"""Seeded benchmark inputs, cached under ``perfbench/.cache`` by what they
depend on.

* Document corpora come from the ``gen_scale`` grammar with its own chunk
  layout (64 chunks, chunk ``c`` drawn from ``rng([seed, c])``), so
  ``(n_docs, seed)`` names exactly one corpus.  The library's own
  ``ensure_scale_corpus`` caches by ``n_docs`` alone, which would hand a
  second seed the first seed's corpus; this cache is keyed by both.
* A delta corpus uses chunk indices from ``DELTA_FIRST_CHUNK`` upward.  Doc
  ids embed the chunk index, so delta ids never collide with base ids.
* The KG queries read ``perfbench/data/tpch_sf0.01``: the key columns of
  the repository's TPC-H sf0.01 tables, committed so that a run reads only
  files inside its checkout (``export_star`` made them).

Only this module decides cache paths; the cache is safe to delete.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

N_CHUNKS = 64
DELTA_FIRST_CHUNK = N_CHUNKS


def _chunk_sizes(n_docs: int, n_chunks: int) -> list[int]:
    return [n_docs // n_chunks + (1 if c < n_docs % n_chunks else 0) for c in range(n_chunks)]


def _publish(tmp: Path, final: Path) -> Path:
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final


def corpus(cache: Path, n_docs: int, seed: int, first_chunk: int = 0, procs: int = 4) -> Path:
    """Directory of ``part-<chunk>.parquet`` files holding ``n_docs`` docs.

    ``first_chunk=0`` with ``N_CHUNKS`` chunks reproduces the layout of
    ``ensure_scale_corpus(n_docs, seed=seed)`` file for file."""
    n_chunks = N_CHUNKS if first_chunk == 0 else max(1, min(N_CHUNKS, n_docs // 50))
    final = cache / "corpus" / f"n{n_docs}_s{seed}_c{first_chunk}"
    if (final / "_SUCCESS").exists():
        return final
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    sizes = _chunk_sizes(n_docs, n_chunks)
    chunks = [f"{first_chunk + c}:{sizes[c]}" for c in range(n_chunks) if sizes[c]]
    # one plain child process per share of the chunks, each waited for
    shares = [chunks[i::procs] for i in range(min(procs, len(chunks)))]
    children = [subprocess.Popen([sys.executable, __file__, str(tmp), str(seed), *share])
                for share in shares]
    codes = [child.wait() for child in children]
    if any(codes):
        raise RuntimeError(f"corpus generation failed: exit codes {codes}")
    return _publish(tmp, final)


def read_docs(path: Path, doc_ids: set[str] | None = None) -> list[dict]:
    """Corpus rows in the oracle's input shape, optionally only ``doc_ids``."""
    filters = None if doc_ids is None else [("doc_id", "in", sorted(doc_ids))]
    files = [str(f) for f in sorted(path.glob("part-*.parquet"))]
    return pq.read_table(files, filters=filters).to_pylist()


# ---- star-schema tables for the KG queries ------------------------------

# table -> the columns STAR_KG_EDGES_SQL and star_kg_edges read
STAR_COLUMNS = {
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}


def export_star(src: Path, dst: Path) -> None:
    """Copy the key columns the KG queries read from the TPC-H tables in
    ``src`` (one ``<table>.parquet`` each) to ``dst``, rows and dtypes
    unchanged.  ``perfbench/data/tpch_sf0.01`` was made this way from the
    sf0.01 tables that TESTDATA.md describes."""
    dst.mkdir(parents=True, exist_ok=True)
    for table, cols in STAR_COLUMNS.items():
        pq.write_table(pq.read_table(src / f"{table}.parquet", columns=cols),
                       dst / f"{table}.parquet")


if __name__ == "__main__":
    if sys.argv[1] == "--export-star":
        # python3 perfbench/inputs.py --export-star SRC_DIR DST_DIR
        export_star(Path(sys.argv[2]), Path(sys.argv[3]))
        sys.exit(0)
    # python3 inputs.py OUT_DIR SEED CHUNK:N_DOCS ... (corpus()'s children)
    from openie_spark.fixtures.gen_scale import _gen_chunk

    for spec in sys.argv[3:]:
        ci, n = map(int, spec.split(":"))
        _gen_chunk((sys.argv[1], ci, n, int(sys.argv[2])))
