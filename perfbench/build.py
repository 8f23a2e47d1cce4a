# -*- coding: utf-8 -*-
"""``build_large``: the staged KG build as ``job.py`` ships it
(``job.main``: ``run_pipeline`` on a fresh work dir, the TRIPLES count,
session stop) over the fixture corpus, its pages in a seeded order.

The traced run re-composes ``run_pipeline`` stage by stage from the
same public functions and the same StageRunner, so every layer gets
its own span. It also times the layers only ``convert.py`` uses
(raw-layout ingest, the fused parse and Turtle export) on the same
corpus.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import shutil
import time

from .common import TRIPLE_COLS, WORK, fingerprint, noop_sink

N_LD = 200               # ~510 web_pages rows over all kinds
MIN_CORES, MIN_AVAIL_GB = 2, 3.0
NEEDS = ("numpy",)
PYTHON_NODES = re.compile(r"MapInPandas|MapInArrow|ArrowEvalPython|"
                          r"BatchEvalPython|FlatMapGroupsInPandas")
# the session settings job.main applies, for the traced composition
# that calls the pipeline functions directly
JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def inputs(seed: int) -> dict:
    from . import data

    root = data.corpus(N_LD)
    return {"corpus": root, "web_pages": data.shuffled_pages(seed, root),
            "runs": 0}


def prepare(spark, inp: dict) -> None:
    """Start the Python worker pool, as the first parse stage of a job.py
    run would; job.py prepares nothing else."""
    def ident(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    noop_sink(spark.range(n, numPartitions=n).mapInPandas(ident, "id long"))


def _fresh_work(state: dict) -> str:
    state["runs"] += 1
    path = os.path.join(WORK, "run", "build-%d" % state["runs"])
    shutil.rmtree(path, ignore_errors=True)
    return path


def op(spark, state: dict) -> dict:
    """One job.py invocation on the session set-up started; job.main
    applies its own settings to it and stops it at the end."""
    import job

    state["work"] = _fresh_work(state)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        job.main(["--input", state["web_pages"], "--work", state["work"]])
    state["printed"] = out.getvalue()
    return {}


def reference_fingerprint(spark, state: dict) -> list:
    """The in-memory path's fingerprint on the corpus in its generated
    order, computed once per corpus and cached. The corpus key already
    carries the digest of the program sources."""
    path = os.path.join(WORK, "oracle", "build-%s.json"
                        % os.path.basename(state["corpus"]))
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    from rdf_converter_spark.pipelines.runner import build_triples_inmem
    from rdf_converter_spark.sources.route import route
    from rdf_converter_spark.sources.web_pages import read_web_pages

    routed = route(read_web_pages(
        spark, os.path.join(state["corpus"], "web_pages")))
    fp = list(fingerprint(build_triples_inmem(spark, routed), TRIPLE_COLS))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(fp, fh)
    return fp


def check(spark, state: dict) -> tuple:
    """(attempted, failed, notes): the staged triple table must equal
    the in-memory path's, and job.py's TRIPLES line its row count."""
    triples = spark.read.parquet(os.path.join(state["work"], "triples"))
    got = list(fingerprint(triples, TRIPLE_COLS))
    want = reference_fingerprint(spark, state)
    notes = []
    if got != want:
        notes.append("staged fingerprint %r != in-memory %r" % (got, want))
    if "TRIPLES=%d" % got[0] not in state["printed"].split():
        notes.append("job.py printed %r for a %d-row table"
                     % (state["printed"].strip(), got[0]))
    return 1, int(bool(notes)), notes


def headline(spark, state: dict, ops: list, walls: list) -> dict:
    import statistics

    pages = spark.read.parquet(state["web_pages"]).count()
    return {"pages_per_s": (pages / statistics.median(walls), "1/s")}


# -- traced composition ----------------------------------------------------

def _python_nodes(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(PYTHON_NODES.findall(plan))


def traced(spark, tracer, state: dict) -> dict:
    """run_pipeline's composition with one span per layer. Stages run
    through the real StageRunner, so partitioning and files match the
    shipped job; the read-back and bookkeeping after each write are
    split off as plans.checkpoint. Returns the counts spans cannot see,
    and the composition's own wall time (``pipeline_s``, routed stage
    through write_metrics) and span sum."""
    from rdf_converter_spark.operators.emit import dedup_triples
    from rdf_converter_spark.plans.checkpoint import StageRunner
    from rdf_converter_spark.pipelines import flow as flp
    from rdf_converter_spark.pipelines import ld as ldp
    from rdf_converter_spark.pipelines import pa as pap
    from rdf_converter_spark.pipelines import subtitles as subp
    from rdf_converter_spark.pipelines import yle as ylep
    from rdf_converter_spark.pipelines.vocab import ina_vocab, yle_vocab
    from rdf_converter_spark.sources.route import route
    from rdf_converter_spark.sources.web_pages import read_web_pages

    class Runner(StageRunner):
        # read-back of a written stage
        def _read(self, *args, **kwargs):
            with tracer.span("plans.checkpoint"):
                return super()._read(*args, **kwargs)

        # lineage footer reads and the metrics row of a stage
        def _record(self, *args, **kwargs):
            with tracer.span("plans.checkpoint"):
                super()._record(*args, **kwargs)

    for k, v in JOB_CONF.items():
        spark.conf.set(k, v)
    sr = Runner(spark, _fresh_work(state), resume=False)
    counts = {"python_passes": 0}
    t0 = time.perf_counter()

    def stage(name, layer, build, partition_by=None):
        with tracer.span(layer):
            return sr.stage(name, build, partition_by=partition_by)

    def parse(name, fn):
        counts["python_passes"] += _python_nodes(fn(routed))
        return stage(name, "pipelines.parse", lambda: fn(routed))

    routed = stage(
        "routed", "sources.route",
        lambda: route(read_web_pages(spark, state["web_pages"])),
        partition_by=["doc_type"])
    programs = parse("parsed_ld_program", ldp.parse_ld_programs)
    segments = parse("parsed_ld_segment", ldp.parse_ld_segments)
    pa = parse("parsed_pa", pap.parse_pa)
    yle = parse("parsed_yle", ylep.parse_yle)
    asr = parse("parsed_asr", subp.parse_asr)
    flow = parse("parsed_flow", flp.parse_flow)
    ld_lin = stage("lineage_ld", "pipelines.lineage",
                   lambda: ldp.ld_lineage(programs))
    pa_full = stage(
        "pa_derived", "pipelines.joins",
        lambda: pap.pa_with_segment_times(pap.with_heure2(pa)))
    pa_lin = stage("lineage_pa", "pipelines.lineage",
                   lambda: pap.pa_lineage(pa))
    yle_lin = stage("lineage_yle", "pipelines.lineage",
                    lambda: ylep.yle_lineage(yle))

    def union(parts):
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.unionByName(p, allowMissingColumns=True)
        return acc

    # run_pipeline's eleven triple parts, split into per-row emission
    # and the parts that need a side join. Each set is built and forced
    # into the cache in its own span; the triples stage then unions,
    # dedups and writes from the cache. The cached frames are
    # pre-shuffle, so the stage's partitions and files still come from
    # the dedup shuffle.
    with tracer.span("pipelines.emit"):
        emitted = union([
            ldp.ld_program_triples(programs), ina_vocab(spark, "ld"),
            pap.pa_triples(pa_full), ina_vocab(spark, "pa"),
            ylep.yle_triples(yle), yle_vocab(spark, "yle")]).persist()
        n_emitted = fingerprint(emitted, emitted.columns)[0]
    with tracer.span("pipelines.joins"):
        joined = union([
            ldp.ld_segment_triples(ldp.ld_segments_with_times(segments,
                                                              programs)),
            flp.ld_flow_triples(flow, ld_lin),
            flp.pa_flow_triples(flow, pa_lin),
            flp.yle_flow_triples(flow, yle_lin),
            subp.subtitle_triples(asr, ld_lin)]).persist()
        n_joined = fingerprint(joined, joined.columns)[0]
    triples = stage(
        "triples", "operators.emit.dedup",
        lambda: dedup_triples(emitted.unionByName(
            joined, allowMissingColumns=True)),
        partition_by=["graph"])
    emitted.unpersist()
    joined.unpersist()
    with tracer.span("plans.checkpoint"):
        sr.write_metrics()
    counts["pipeline_s"] = time.perf_counter() - t0
    counts["span_sum_s"] = tracer.top_level_wall()
    counts["emitted"] = n_emitted + n_joined
    counts["distinct"] = sr.metrics[-1]["rows"]
    counts["files"] = sum(m["files"] for m in sr.metrics)
    state["traced_fp"] = list(fingerprint(triples, TRIPLE_COLS))
    counts.update(_convert_layers(spark, tracer, state, triples))
    return counts


def _convert_layers(spark, tracer, state, triples) -> dict:
    """The layers only convert.py uses: raw-layout ingest, the fused
    parse, and per-graph Turtle export (of the staged triple table)."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.operators.export import to_turtle_pretty
    from rdf_converter_spark.pipelines import fused
    from rdf_converter_spark.sources.ingest import ingest_reference_layout
    from rdf_converter_spark.sources.route import route

    c = state["corpus"]
    # ingest output is kept (no shuffle, so caching leaves its
    # partitioning alone) so the parse span does not re-ingest
    web = ingest_reference_layout(
        spark, ld=os.path.join(c, "ld"), pa=os.path.join(c, "pa"),
        yle=os.path.join(c, "yle"), asr=os.path.join(c, "asr"),
        flow=os.path.join(c, "file_flow_mapping.json")).persist()
    with tracer.span("sources.ingest"):
        noop_sink(web)
    with tracer.span("pipelines.fused.parse"):
        noop_sink(fused.parse_all(route(web)))
    web.unpersist()
    out_dir = os.path.join(WORK, "run", "ttl")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    with tracer.span("operators.export"):
        graphs = sorted(r[0] for r in
                        triples.select("graph").distinct().collect())
        for g in graphs:
            to_turtle_pretty(triples.filter(F.col("graph") == g),
                             os.path.join(out_dir, g + ".ttl"))
    return {"export_bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                                for f in os.listdir(out_dir))}


def traced_check(spark, state: dict) -> tuple:
    want = reference_fingerprint(spark, state)
    if state["traced_fp"] != want:
        return 1, 1, ["traced staged fingerprint %r != in-memory %r"
                      % (state["traced_fp"], want)]
    return 1, 0, []
