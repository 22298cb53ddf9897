"""Workload inputs, made from the seed and cached under the work directory.

* ``stage_tpch``: the TPC-H ``nation`` and ``region`` tables from DuckDB's
  built-in ``dbgen`` (deterministic, no seed), written once to parquet.
* ``fixture_rows``: the nation OWL fixture plus the nation-region edge
  table. Their content has no seed; it is collected once to JSON next to
  the TPC-H tables, and the seed shuffles the order of the input rows,
  which no build output may depend on.
* ``stage_pages``: generated pages. The page generator is
  index-deterministic and has no seed, so the seed selects the index
  window ``[w, w + n)`` with ``w = seed % (WINDOW_SLACK + 1)`` out of the
  first ``n + WINDOW_SLACK`` pages (staging cost does not depend on the
  seed). Those pages are generated once per (n, size factor) to a parquet
  corpus; each window is cut from it once to its own parquet.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil

TRIPLE_SCHEMA = (
    "s string, p string, o string, o_is_literal boolean, "
    "o_lang string, o_datatype string"
)
EDGE_SCHEMA = (
    "edge_type string, n1_kind string, n2_kind string, sub_id string, "
    "obj_id string, uri1 string, uri2 string, rel string, inv_rel string"
)


def stage_tpch(work: str) -> str:
    out = os.path.join(work, "tpch")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    import duckdb

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("CALL dbgen(sf=0.01)")
        for table in ("nation", "region"):
            con.execute(
                f"COPY {table} TO '{tmp}/{table}.parquet' (FORMAT parquet)"
            )
    finally:
        con.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def fixture_rows(spark, tpch_dir: str, seed: int):
    """(ontology rows, edge rows), collected once and shuffled by the
    seed."""
    import __spark_entry__ as entry

    cache = os.path.join(tpch_dir, "fixture_rows.json")
    if not os.path.exists(cache):
        rows = {
            "ontology": [list(r) for r in
                         entry._owlnets_fixture(spark, tpch_dir).collect()],
            "edges": [list(r) for r in entry._nation_region_edges(
                spark, tpch_dir, "RO_0001015").collect()],
        }
        with open(cache + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(cache + ".tmp", cache)
    with open(cache) as f:
        rows = json.load(f)
    rng = random.Random(seed)
    onto_rows = [tuple(r) for r in rows["ontology"]]
    edge_rows = [tuple(r) for r in rows["edges"]]
    rng.shuffle(onto_rows)
    rng.shuffle(edge_rows)
    return onto_rows, edge_rows


WINDOW_SLACK = 1000
PAGE_FILES = 8


def pages_window(seed: int) -> int:
    return seed % (WINDOW_SLACK + 1)


def stage_pages(spark, work: str, seed: int, n_pages: int, size_factor: int) -> str:
    import pyarrow.parquet as pq

    from pheknowlator_spark.sources.pages import generate_pages

    start = pages_window(seed)
    out = os.path.join(work, f"pages_{start}_{n_pages}_{size_factor}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    corpus = os.path.join(work, f"pages_corpus_{n_pages}_{size_factor}")
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        generate_pages(
            spark, n_pages + WINDOW_SLACK, size_factor=size_factor
        ).write.mode("overwrite").parquet(corpus)
    # the window is cut with pyarrow, so staging starts no Spark job once
    # the corpus exists
    table = pq.read_table(corpus)
    doc_ids = [int(re.search(r"/doc/(\d+)$", u).group(1))
               for u in table.column("url").to_pylist()]
    window = sorted(
        (d, i) for i, d in enumerate(doc_ids) if start <= d < start + n_pages
    )
    table = table.take([i for _, i in window])
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # equal contiguous files wherever the window falls, so the scan's
    # balance across cores does not depend on the seed
    step = -(-table.num_rows // PAGE_FILES)
    for k in range(PAGE_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(tmp, f"part-{k:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
