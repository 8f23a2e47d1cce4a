# -*- coding: utf-8 -*-
"""Seeded workload inputs, generated once per (seed, size) and cached
under ``perfbench/.work/inputs``. Generation is the load generator's
job: it is never part of a timed region or of ``setup_s``.

* ``corpus`` -- the fixture generator's MeMAD corpus (its own fixed
  seed), both as the ``web_pages`` table ``job.py`` reads and as the raw
  reference layout ``convert.py`` reads.
* ``shuffled_pages`` -- that ``web_pages`` table with its rows permuted
  and re-split into files by the workload seed. The triple set must not
  depend on row order, so one cached reference serves every seed.
* ``kg_tables`` -- the TPC-H-style tables the KG store is built from
  (region, nation, customer, orders), with the columns it reads and
  the schema and value shapes of the sf test tables.

Each cache key carries a digest of the sources that produce the input
(the generator and the program modules it imports, or this file), so
an input cached by another commit is rebuilt, not reused.
"""

from __future__ import annotations

import os
import shutil

from .common import ROOT, WORK, source_digest

INPUTS = os.path.join(WORK, "inputs")
N_FILES = 4        # parquet files the shuffled pages are split over
CORPUS_SOURCES = ("fixtures/generator.py", "rdf_converter_spark")


def _cached(name: str, build) -> str:
    """Build into a temp dir and rename, so an interrupted run never
    leaves a half-written input that a later run would trust."""
    out = os.path.join(INPUTS, name)
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out


CORPUS_SEED = 42   # the fixture corpus the engine's own tests use


def corpus(n_ld: int) -> str:
    """MeMAD fixture corpus with every kind scaled with ``n_ld``, so
    each per-kind parse and side join has rows to work on."""
    import sys

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from fixtures.generator import build_corpus

    def build(out):
        build_corpus(out, n_ld=n_ld, n_pa=n_ld // 2, n_yle=n_ld // 4,
                     n_asr=n_ld // 10, seed=CORPUS_SEED)

    return _cached("corpus-n%d-%s" % (n_ld, source_digest(*CORPUS_SOURCES)),
                   build)


def shuffled_pages(seed: int, corpus_dir: str) -> str:
    """``corpus_dir``'s web_pages rows in a seeded order, split over
    ``N_FILES`` parquet files."""
    import numpy as np
    import pyarrow.parquet as pq

    def build(out):
        table = pq.read_table(os.path.join(corpus_dir, "web_pages"))
        order = np.random.default_rng(seed).permutation(table.num_rows)
        for i, part in enumerate(np.array_split(order, N_FILES)):
            pq.write_table(table.take(part),
                           os.path.join(out, "part-%05d.parquet" % i))

    return _cached("pages-%s-s%d" % (os.path.basename(corpus_dir), seed),
                   build)


_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def kg_tables(seed: int, sf: float) -> str:
    """region/nation/customer/orders parquet files, seeded."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(out, name, frame, schema):
        pq.write_table(pa.Table.from_pandas(frame, schema=schema,
                                            preserve_index=False),
                       os.path.join(out, name + ".parquet"))

    def build(out):
        rng = np.random.default_rng(seed)
        n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
        write(out, "region", pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": list(_REGIONS)}),
            pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
        write(out, "nation", pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": ["NATION_%d" % i for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32")}),
            pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                       ("n_regionkey", pa.int32())]))
        write(out, "customer", pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": ["Customer#%09d" % i for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
            pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                       ("c_nationkey", pa.int32()),
                       ("c_mktsegment", pa.string())]))
        day0 = np.datetime64("1995-01-01", "us")
        days = rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
        write(out, "orders", pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_orderdate": day0 + days.astype("timedelta64[us]")}),
            pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                       ("o_orderstatus", pa.string()),
                       ("o_orderdate", pa.timestamp("us"))]))

    return _cached("kg-s%d-sf%g-%s" % (seed, sf,
                                       source_digest("perfbench/data.py")),
                   build)
