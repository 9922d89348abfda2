"""Materialized benchmark corpora, their cache, and their expected outputs.

Two levels, both under ``perfbench/.cache`` in the checkout:

- **base** (``base-<key>``): the ``mixed`` and ``rich`` page tables built
  by the engine's own corpus builders (``sources.pages``) from the
  checked-in ``documents``/``embeddings`` tables in ``perfbench/data``,
  and the expected per-url digests and pair-stage digests computed by
  DuckDB from the repo's oracle SQL. ``key`` hashes the bytes of every
  file the synthesis reads or runs, so a change to the synthesis can
  never time a stale corpus.
- **layout** (``layout-<key>-s<seed>``): the base page tables re-laid out
  row→file by the seed, and the documents/embeddings rows shuffled by the
  seed. Only the layout depends on the seed; the expected output of every
  url does not.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

from . import gate

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

#: corpus shapes: ``docs``/``vecs`` are the rows of the checked-in
#: tables, ``repeat`` tiles the documents into the mixed corpus,
#: ``mixed_files`` is its file (= map task) count, ``rich_docs`` is the
#: document prefix the rich builders use
SCALES = {
    "sf0.1": {"docs": 5000, "vecs": 2000, "repeat": 2, "mixed_files": 32,
              "rich_docs": 1500, "rich_files": 4},
    "sf0.001": {"docs": 500, "vecs": 500, "repeat": 1, "mixed_files": 8,
                "rich_docs": 150, "rich_files": 4},
}

#: files whose bytes decide the synthesized corpora
SYNTH_INPUTS = (
    "docling_api_spark/sources/pages.py",
    "docling_api_spark/operators/pdf_write.py",
    "docling_api_spark/operators/ooxml_write.py",
    "docling_api_spark/operators/png_write.py",
    "docling_api_spark/operators/ocr.py",
    "docling_api_spark/operators/jpeg_codec.py",
    "docling_api_spark/operators/pdf_crypt.py",
    "perfbench/corpus.py",
    "perfbench/gate.py",
)

#: rich corpus components, each under its own url host tag
RICH_KINDS = ("pdf", "ooxml", "scan", "broken", "embimg")

#: layouts kept per base before the oldest is evicted
KEEP_LAYOUTS = 4


def data_dir(scale: str) -> str:
    """The ``documents``/``embeddings`` tables of the repo's test data at
    ``scale``, byte for byte, checked in so the checkout holds them."""
    return os.path.join(HERE, "data", scale)


def synth_key(scale: str) -> str:
    h = hashlib.sha256(scale.encode())
    tables = tuple(f"perfbench/data/{scale}/{t}.parquet"
                   for t in ("documents", "embeddings"))
    for rel in SYNTH_INPUTS + tables:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def is_ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def mark_ready(path: str, payload: dict | None = None) -> None:
    with open(os.path.join(path, "_READY"), "w") as f:
        json.dump(payload or {}, f)


# ----------------------------------------------------------------- base

def _tile_sql(docs_path: str, repeat: int) -> str:
    return (f"SELECT doc_id + r.range * 10000000 AS doc_id, text, lang, "
            f"source, n_chars FROM read_parquet('{docs_path}'), "
            f"range({repeat}) r")


def _host(kind: str, sql: str) -> str:
    """The rich corpus unions several builders whose urls overlap; each
    component gets its own host prefix, on both the pages and the
    oracle side."""
    return (f"SELECT replace(url, 'https://site', 'https://{kind}.site') "
            f"AS url, fmt, markdown, error FROM ({sql}) o")


def _expected_mixed(con, docs_dir: str, repeat: int) -> dict:
    from docling_api_spark import queries as Q
    con.execute("CREATE OR REPLACE VIEW documents AS " + _tile_sql(
        os.path.join(docs_dir, "documents.parquet"), repeat))
    # doc_id % 10 = 4 ships as a PDF (sources.pages.with_fixture_pdfs)
    rows = con.execute(
        f"SELECT url, fmt, markdown, error "
        f"FROM ({Q.EXTRACT_MARKDOWN_ORACLE}) m "
        f"WHERE NOT ends_with(url, '4.html') "
        f"UNION ALL SELECT url, fmt, markdown, error "
        f"FROM ({Q.EXTRACT_PDF_ORACLE}) p").fetchall()
    return gate.digest_rows(rows)


def _expected_rich(con, rich_docs: str) -> dict:
    from docling_api_spark import queries as Q
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{rich_docs}/documents.parquet/*.parquet')")
    emb = (f"SELECT DISTINCT url, CASE WHEN ends_with(url, '.pdf') "
           f"THEN 'pdf' WHEN ends_with(url, '.docx') THEN 'docx' "
           f"ELSE 'pptx' END AS fmt, markdown, CAST(NULL AS VARCHAR) AS error "
           f"FROM ({Q.EXTRACT_EMBEDDED_IMAGES_ORACLE}) e")
    parts = {
        "pdf": Q.EXTRACT_PDF_ORACLE,
        "ooxml": " UNION ALL ".join(
            f"SELECT * FROM ({s}) x" for s in (
                Q.EXTRACT_DOCX_ORACLE, Q.EXTRACT_PPTX_ORACLE,
                Q.EXTRACT_ADOC_ORACLE)),
        "scan": Q.EXTRACT_SCANNED_ORACLE,
        "broken": Q.EXTRACT_ERROR_TAXONOMY_ORACLE,
        "embimg": emb,
    }
    rows = []
    for kind in RICH_KINDS:
        rows += con.execute(_host(kind, parts[kind])).fetchall()
    return gate.digest_rows(rows)


def _expected_pairs(con, docs_dir: str) -> dict:
    from docling_api_spark.operators import dedup, similarity
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_dir}/documents.parquet')")
    con.execute("CREATE OR REPLACE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{docs_dir}/embeddings.parquet')")
    out = {}
    for name, sql in (("near_pipeline", dedup.DEDUP_NEAR_ORACLE),
                      ("embedding_cosine", similarity.DEDUP_EMBEDDING_ORACLE),
                      ("semdedup", similarity.semdedup_oracle(docs_dir)),
                      ("substring", dedup.SUBSTRING_DEDUP_ORACLE)):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = gate.table_digest(cols, cur.fetchall())
    return out


def build_base(spark, scale: str) -> tuple[str, dict]:
    """Build (or reuse) the seed-independent corpora. → (dir, expected)."""
    import duckdb
    from pyspark.sql import functions as F

    from docling_api_spark.sources import pages as PS

    shape = SCALES[scale]
    base = os.path.join(CACHE, f"base-{scale}-{synth_key(scale)}")
    if is_ready(base):
        with open(os.path.join(base, "_READY")) as f:
            return base, json.load(f)
    for stale in glob.glob(os.path.join(CACHE, f"base-{scale}-*")):
        shutil.rmtree(stale, ignore_errors=True)
    docs = data_dir(scale)

    # rich builders read a documents prefix split over several files, so
    # the Python-side fixture writers run one task per file
    import pyarrow.parquet as pq
    rich_docs = os.path.join(base, "rich_docs")
    tbl = pq.read_table(os.path.join(docs, "documents.parquet")) \
        .slice(0, shape["rich_docs"])
    os.makedirs(os.path.join(rich_docs, "documents.parquet"))
    step = -(-tbl.num_rows // shape["rich_files"])
    for k in range(shape["rich_files"]):
        pq.write_table(tbl.slice(k * step, step), os.path.join(
            rich_docs, "documents.parquet", f"part-{k:05d}.parquet"))

    (PS.with_fixture_pdfs(PS.pages_from_documents(
        spark, docs, repeat=shape["repeat"],
        parallelism=spark.sparkContext.defaultParallelism))
     .write.mode("overwrite").parquet(os.path.join(base, "mixed")))

    ooxml = PS.with_fixture_ooxml(PS.pages_from_documents(spark, rich_docs))
    builders = {
        "pdf": PS.with_fixture_pdfs(PS.pages_from_documents(
            spark, rich_docs)).where(F.col("url").endswith(".pdf")),
        "ooxml": ooxml.where(F.col("url").rlike(r"\.(docx|pptx|adoc)$")),
        "scan": PS.pages_with_scans(spark, rich_docs),
        "broken": PS.pages_broken(spark, rich_docs),
        "embimg": PS.pages_embedded_images(spark, rich_docs),
    }
    rich = None
    for kind in RICH_KINDS:
        part = builders[kind].withColumn("url", F.regexp_replace(
            "url", "^https://site", f"https://{kind}.site"))
        rich = part if rich is None else rich.unionByName(part)
    rich.write.mode("overwrite").parquet(os.path.join(base, "rich"))

    con = duckdb.connect()
    expected = {
        "mixed": _expected_mixed(con, docs, shape["repeat"]),
        "rich": _expected_rich(con, rich_docs),
        "pairs": _expected_pairs(con, docs),
    }
    con.close()
    mark_ready(base, expected)
    return base, expected


# --------------------------------------------------------------- layout

def relayout(src: str, dst: str, n_files: int, seed: int) -> None:
    """Seed-permute the rows of a page table into ``n_files`` parquet
    files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(src)
    tbl = tbl.cast(pa.schema([
        pa.field(f.name, pa.timestamp("us", tz="UTC"))
        if pa.types.is_timestamp(f.type) else f for f in tbl.schema]))
    order = np.random.default_rng(seed).permutation(tbl.num_rows)
    tbl = tbl.take(pa.array(order))
    os.makedirs(dst)
    step = -(-tbl.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(tbl.slice(k * step, step),
                       os.path.join(dst, f"part-{k:05d}.parquet"))


def _shuffle_table(src: str, dst: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(src)
    order = np.random.default_rng(seed).permutation(tbl.num_rows)
    pq.write_table(tbl.take(pa.array(order)), dst)


def _warm_tables(lay: str, rows: int = 64, files: int = 4) -> None:
    """Small same-shape inputs for the untimed warm-up: the head of the
    first ``files`` files of each page table, and a documents/embeddings
    prefix."""
    import pyarrow.parquet as pq
    for name in ("mixed", "rich"):
        dst = os.path.join(lay, "warm", name)
        os.makedirs(dst)
        for k in range(files):
            part = f"part-{k:05d}.parquet"
            pq.write_table(pq.read_table(os.path.join(lay, name, part))
                           .slice(0, rows), os.path.join(dst, part))
    dst = os.path.join(lay, "warm", "docs")
    os.makedirs(dst)
    for name in ("documents.parquet", "embeddings.parquet"):
        pq.write_table(pq.read_table(os.path.join(lay, "docs", name))
                       .slice(0, 8 * rows), os.path.join(dst, name))


def build_layout(base: str, scale: str, seed: int) -> str:
    """→ the dir with ``mixed/``, ``rich/`` and ``docs/`` re-laid out by
    ``seed``."""
    shape = SCALES[scale]
    key = os.path.basename(base)[len("base-"):]
    lay = os.path.join(CACHE, f"layout-{key}-s{seed}")
    if is_ready(lay):
        os.utime(lay)
        return lay
    shutil.rmtree(lay, ignore_errors=True)
    relayout(os.path.join(base, "mixed"), os.path.join(lay, "mixed"),
             shape["mixed_files"], seed)
    relayout(os.path.join(base, "rich"), os.path.join(lay, "rich"),
             shape["rich_files"], seed + 1)
    os.makedirs(os.path.join(lay, "docs"))
    for i, name in enumerate(("documents.parquet", "embeddings.parquet")):
        _shuffle_table(os.path.join(data_dir(scale), name),
                       os.path.join(lay, "docs", name), seed + 2 + i)
    _warm_tables(lay)
    mark_ready(lay)
    _evict(scale, key, keep=lay)
    return lay


def _evict(scale: str, key: str, keep: str) -> None:
    """Drop layouts of an older synthesis and all but the newest
    ``KEEP_LAYOUTS`` seeds of this one."""
    for stale in glob.glob(os.path.join(CACHE, f"layout-{scale}-*")):
        if not os.path.basename(stale).startswith(f"layout-{key}-"):
            shutil.rmtree(stale, ignore_errors=True)
    lays = sorted(glob.glob(os.path.join(CACHE, f"layout-{key}-s*")),
                  key=os.path.getmtime)
    for old in lays[:-KEEP_LAYOUTS]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)
