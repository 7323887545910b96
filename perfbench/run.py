#!/usr/bin/env python3
"""Benchmark of the KG pipeline's public entry points on local Spark.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each workload is a closed loop with one
client (the next operation starts when the previous one returns), in a
fresh Spark application that warms up on a small corpus before anything
is timed:

* ``bulk_build``: ``kg_job.run`` (mentions and OpenIE on) over a generated
  crawl, each time into a fresh work_dir.
* ``kg_query``: the graph is built during set-up; each operation is one
  document-view request of four ``operators.graph_query`` calls.
* ``recrawl_upsert``: the graph is built during set-up; each operation is
  one re-crawl batch, pages -> documents -> triples -> ``sinks.merge_upsert``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` replays the same
work layer by layer, forcing each layer's output inside a span, and prints
per-layer metrics instead.  The last stdout line is one JSON object; the
lines above it repeat every metric by name with its unit.  The exit code is
non-zero when any output is wrong.  Files go under ``.perfbench_run/`` in
the current directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "vendor")]

import gen  # noqa: E402

# Input sizes, from warm builds on a 4-core machine (local[4]): kg_job.run
# took 11 s over 40 pages, 16.5 s over 150 and 19 s over 400, so at crawl
# increments of tens to hundreds of pages most of a build is the fixed
# cost of its ~60 Spark jobs, which bulk_build therefore measures.  A
# fresh JVM's first build takes 25 s over 8 pages and 35-50 s over 60 or
# more, so each run warms up on WARM_PAGES pages; that leaves room for one
# timed build of 60 pages in a run of about a minute.  A kg_query request
# takes about 1.5x as long over 200 pages as over 30.
BULK_PAGES = 60
WARM_PAGES = 8                # the untimed first build of every run
BASE_PAGES = 200              # the pre-built graph of kg_query and recrawl_upsert
RECRAWL_EDITED, RECRAWL_ADDED, RECRAWL_BATCHES = 6, 4, 30
INPUT_REPEATS = 3             # bulk_build set-up: timed structural passes
GRAPH_REPEATS = 2             # kg_query/recrawl_upsert set-up: timed warm graph builds
QUERY_WARM_REQUESTS = 1       # untimed requests before the kg_query window
QUERY_REQUESTS = 200
STRUCTURAL_SAMPLE = 12

LAYERS = {
    "sources": ["busy_s", "pages_in", "html_pages"],
    "extract": ["busy_s", "docs_in", "entities_out", "docs_failed"],
    "wikilink_resolve": ["busy_s", "links_in", "resolved_ratio"],
    "mentions": ["busy_s", "mentions_out"],
    "openie": ["busy_s", "relations_out"],
    "triples": ["busy_s", "triples_out"],
    "components": ["busy_s", "edges_in", "clusters_out", "spark_jobs"],
    "sinks": ["busy_s", "rows_written", "bytes_written", "files_written",
              "buckets_rewritten", "rewrite_amplification", "spark_jobs"],
    "graph_query": ["busy_s", "rows_out", "spark_jobs"],
}
RATIOS = {"resolved_ratio", "rewrite_amplification"}   # averaged, not summed
UNITS = {"busy_s": "s", "bytes_written": "bytes", "resolved_ratio": "ratio",
         "rewrite_amplification": "ratio"}


def _env(run_dir: str) -> None:
    """Keep the files a run writes inside run_dir, and make the package
    importable in Python workers (they inherit PYTHONPATH)."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # spark-submit's launcher JVM would otherwise leave /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.join(ROOT, "vendor")] + ([old] if old else []))


def _cpus() -> int:
    n = os.cpu_count() or 1
    return max(1, min(int(os.environ.get("SPARK_GRAFT_CPUS", n)), n))


def _session(run_dir: str):
    """``pipeline.session``'s settings (AQE, Arrow batch sizes, no UI) on
    ``local[cpus]``, with scratch space inside run_dir, a 2 GB driver and
    the console progress bar off.  The young generation is fixed at 512 MB:
    G1 otherwise sizes it from measured pause times, which moved the peak
    RSS of identical runs over 1.7-2.6 GB; fixed, most runs stay within
    about 100 MB of each other."""
    from pyspark.sql import SparkSession
    cpus = _cpus()
    spark = (
        SparkSession.builder.appName("kgp-perfbench")
        .master(f"local[{cpus}]")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData -Xmn512m")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


class Bench:
    """State of one run: session, tracer, work directory, outcome counts."""

    def __init__(self, args, run_dir: str):
        from probes import Tracer
        self.args = args
        self.run_dir = run_dir
        self.n_dirs = 0
        self.spark, self.session_start_s = _timed(_session, run_dir)
        self.tr = Tracer(self.spark, enabled=bool(args.trace))
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.raised: list[int] = []            # loop operations that raised
        self.latencies: list[float] = []
        self.op_spans: list[list[dict]] = []
        self.window_s = 0.0
        self.setup_times: list[float] = []
        self.untraced_s: float | None = None   # same work as the traced spans

    def fresh_dir(self, name: str) -> str:
        self.n_dirs += 1
        return os.path.join(self.run_dir, f"{name}-{self.n_dirs}")

    def load_pages(self, rows: list[dict], name: str):
        path = os.path.join(self.run_dir, f"{name}.parquet")
        gen.write_pages(rows, path)
        return self.spark.read.parquet(path)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)
            print(f"MISMATCH: {what}", file=sys.stderr)

    def timed_loop(self, op, limit: int | None = None) -> None:
        """Run ``op(i)`` back to back until ``--seconds`` have passed (at
        least once).  An operation that raises is recorded in ``raised``
        and the loop goes on."""
        start = time.perf_counter()
        i = 0
        while True:
            n_spans = len(self.tr.spans)
            t = time.perf_counter()
            try:
                op(i)
            except Exception:
                traceback.print_exc()
                self.raised.append(i)
            self.latencies.append(time.perf_counter() - t)
            self.op_spans.append(self.tr.spans[n_spans:])
            i += 1
            if time.perf_counter() - start >= self.args.seconds or i == limit:
                break
        self.window_s = time.perf_counter() - start


# --------------------------------------------------------------- pipeline

def staged_front(b: Bench, pages, registry=None):
    """pages -> documents -> merged entities -> resolved wikilinks, each
    layer forced inside its span.  Wikilinks resolve against ``registry``
    (a doc_id/path frame) when given, else against the pages themselves."""
    from pyspark.sql import functions as F
    from knowledgebase_processor_spark.operators.extract_udf import extract_merged_entities_df
    from knowledgebase_processor_spark.operators.wikilink_resolve import (
        documents_dimension, resolve_wikilinks_merged)
    from knowledgebase_processor_spark.sources.web_pages import pages_to_documents
    from probes import force
    tr = b.tr
    with tr.span("sources") as c:
        docs = force(pages_to_documents(pages))
    c.update(pages_in=pages.count(),
             html_pages=pages.filter(F.col("text").isNull()).count())

    with tr.span("extract") as c:
        merged = force(extract_merged_entities_df(docs, "doc_id", "text", "path", "title"))
    n_docs = docs.count()
    c.update(docs_in=n_docs, entities_out=merged.count(),
             docs_failed=n_docs - merged.filter(F.col("kind") == "document")
             .select("source_document_uri").distinct().count())

    with tr.span("wikilink_resolve") as c:
        dim = documents_dimension(docs if registry is None else registry, "doc_id", "path")
        resolved = force(resolve_wikilinks_merged(merged, dim))
    links = resolved.filter(F.col("kind") == "wikilink")
    n_links = links.count()
    hit = links.filter(F.size("resolved_document_uri") > 0).count()
    c.update(links_in=n_links, resolved_ratio=hit / n_links if n_links else 0.0)
    return docs, resolved


def staged_build(b: Bench, pages, work_dir: str, kg_job_stages: bool) -> str:
    """The graph build with each layer's output forced inside its span;
    returns the kg_triples table path.  With ``kg_job_stages`` it replays
    ``kg_job.run`` with mentions and OpenIE on: its stage order, checkpoint
    writes, lineage, components and metrics.  Without, it builds the
    structural graph ``plain_triples`` + ``upsert`` build."""
    from pyspark.sql import functions as F
    from knowledgebase_processor_spark import sinks
    from knowledgebase_processor_spark.operators.triples import explode_merged
    from probes import force
    spark, tr = b.spark, b.tr
    path = os.path.join(work_dir, "kg_triples")
    docs, resolved = staged_front(b, pages)
    if not kg_job_stages:
        with tr.span("triples") as c:
            t = force(explode_merged(resolved))
        c["triples_out"] = t.count()
        upsert(b, t, path)
        return path

    from knowledgebase_processor_spark.operators.components import (
        canonical_entities, connected_components, coreference_edges)
    from knowledgebase_processor_spark.operators.mentions import (
        detect_mentions, mentions_to_entities)
    from knowledgebase_processor_spark.operators.openie import (
        openie_to_kg_triples, openie_triples)
    from knowledgebase_processor_spark.operators.triples import triples_from_entities

    def write(df, name, bucket_key=None):
        out = os.path.join(work_dir, name)
        with tr.span("sinks") as c:
            if bucket_key:
                sinks.bucketed(df, key=bucket_key).write.mode("overwrite") \
                    .partitionBy("part_bucket").parquet(out)
            else:
                df.write.mode("overwrite").parquet(out)
        _sink_counts(c, spark.read.parquet(out), out)
        return spark.read.parquet(out)

    entities = write(resolved, "entities", "source_document_uri")
    write(sinks.lineage(entities, "extract", key="source_document_uri"), "lineage_extract")

    with tr.span("mentions") as c:
        m = force(mentions_to_entities(detect_mentions(docs, gen.ALIAS_DICT)))
    c["mentions_out"] = m.count()
    mention_entities = write(m, "mention_entities")

    with tr.span("openie") as c:
        o = force(openie_to_kg_triples(openie_triples(docs)))
    c["relations_out"] = o.count()
    openie_df = write(o, "openie")

    with tr.span("triples") as c:
        t = force(explode_merged(entities)
                  .unionByName(triples_from_entities(mention_entities, dedup=True))
                  .unionByName(openie_df))
    c["triples_out"] = t.count()
    triples = write(t, "triples_openie", "source_doc")

    with tr.span("components") as c:
        edge_src = entities.filter(F.col("kind") == "wikilink").select(
            "kind", "kb_id", "source_document_uri",
            F.try_element_at("resolved_document_uri", F.lit(1)).alias("resolved_document_uri"),
            F.lit(None).cast("string").alias("label"))
        edge_src = edge_src.unionByName(mention_entities.select(
            "kind", "kb_id", "source_document_uri", "resolved_document_uri", "label"))
        edges = force(coreference_edges(edge_src, salt=16))  # kg_job.run's default
        canon = force(canonical_entities(
            entities.select("kind", "kb_id", "source_document_uri"),
            connected_components(edges)))
    c.update(edges_in=edges.count(),
             clusters_out=canon.select("canonical_id").distinct().count())
    write(canon, "canonical")

    upsert(b, triples.drop("part_bucket"), path)
    with tr.span("sinks"):
        sinks.write_metrics(spark, os.path.join(work_dir, "metrics"), "kg_job",
                            {"n_triples": float(triples.count())})
    return path


def _sink_counts(c: dict, table, path: str, buckets=None) -> None:
    from pyspark.sql import functions as F
    from probes import dir_stats
    paths = [path]
    if buckets is not None:
        table = table.filter(F.col("part_bucket").isin(buckets))
        paths = [os.path.join(path, f"part_bucket={k}") for k in buckets]
    stats = [dir_stats(p) for p in paths]
    c.update(rows_written=table.count(), files_written=sum(f for f, _ in stats),
             bytes_written=sum(s for _, s in stats))


def upsert(b: Bench, rows, path: str) -> None:
    """``sinks.merge_upsert`` inside a sinks span; a traced run also counts
    the buckets it rewrote and the rows rewritten per incoming row."""
    from pyspark.sql import functions as F
    from knowledgebase_processor_spark import sinks
    with b.tr.span("sinks") as c:
        sinks.merge_upsert(b.spark, rows, path, key="source_doc")
    if b.tr.enabled:
        bucket = F.pmod(F.xxhash64("source_doc"), F.lit(sinks.N_BUCKETS_DEFAULT))
        buckets = [r[0] for r in rows.select(bucket).distinct().collect()]
        _sink_counts(c, b.spark.read.parquet(path), path, buckets)
        incoming = rows.count()
        c.update(buckets_rewritten=len(buckets),
                 rewrite_amplification=c["rows_written"] / incoming if incoming else 0.0)


def plain_triples(pages, registry=None):
    """pages -> structural triples with the calls kg_job.run makes
    (extract, resolve wikilinks, explode), unforced."""
    from knowledgebase_processor_spark.operators.extract_udf import extract_merged_entities_df
    from knowledgebase_processor_spark.operators.triples import explode_merged
    from knowledgebase_processor_spark.operators.wikilink_resolve import (
        documents_dimension, resolve_wikilinks_merged)
    from knowledgebase_processor_spark.sources.web_pages import pages_to_documents
    docs = pages_to_documents(pages)
    merged = extract_merged_entities_df(docs, "doc_id", "text", "path", "title")
    dim = documents_dimension(docs if registry is None else registry, "doc_id", "path")
    return explode_merged(resolve_wikilinks_merged(merged, dim))


# ------------------------------------------------------------ correctness

def _page_names(urls) -> dict[str, str]:
    """wikilink target -> url, for the generator's ``<name>.md`` urls."""
    return {u.rsplit("/", 1)[1][:-len(".md")]: u for u in urls}


def check_structural(b: Bench, table, rows: list[dict]) -> None:
    """For a seeded sample of pages, the table's triples on the subjects
    the pure-Python extractor and emitter produce equal theirs, with
    wikilinks resolved from the generator's page names.  (Mention and
    OpenIE nodes have other subjects.)"""
    from pyspark.sql import functions as F
    from knowledgebase_processor_spark.extract.core import extract_entities
    from knowledgebase_processor_spark.extract.triples_py import entities_triples
    from knowledgebase_processor_spark.operators.metadata import derive_title
    from knowledgebase_processor_spark.sources.html_extract import extract_main_text
    known = _page_names(r["url"] for r in rows)
    sample = random.Random(f"sample-{b.args.seed}").sample(
        rows, min(STRUCTURAL_SAMPLE, len(rows)))
    want = {}
    for r in sample:
        text = r["text"] if r["text"] is not None else extract_main_text(r["html"])
        path = r["url"].rsplit("/", 1)[1]
        ents = extract_entities(r["url"], text, path, derive_title(text, path))
        for e in ents:
            if e["kind"] == "wikilink":
                e["resolved_document_uri"] = known.get(e["target_path"])
        want[r["url"]] = entities_triples(ents)
    got: dict[str, set] = {u: set() for u in want}
    for r in table.filter(F.col("source_doc").isin(list(want))).collect():
        got[r.source_doc].add((r.subj, r.pred, r.obj,
                               "uri" if r.obj_is_uri else r.obj_datatype))
    for url, exp in want.items():
        subjects = {t[0] for t in exp}
        have = {t for t in got[url] if t[0] in subjects}
        b.check(have == exp, f"triples of {url}: {len(have - exp)} extra, "
                             f"{len(exp - have)} missing")


def missing_documents(table, urls) -> int:
    """Pages without a kb:Document node."""
    from pyspark.sql import functions as F
    from knowledgebase_processor_spark.uris import KB, RDF
    have = {r[0] for r in table.filter((F.col("pred") == RDF + "type")
                                       & (F.col("obj") == KB + "Document"))
            .select("subj").distinct().collect()}
    return sum(1 for u in urls if u not in have)


# -------------------------------------------------------------- workloads

def bulk_build(b: Bench) -> dict:
    """An untimed kg_job.run over WARM_PAGES pages first warms the JVM, the
    Python workers and Spark's code caches.  Set-up is the structural pass
    over the corpus (``plain_triples``, counted), repeated: a single
    ``pages_to_documents`` count took 0.4 s and moved twice as much as the
    build between sets of runs when the host's speed drifted.
    The traced run times one untraced kg_job.run (its table is the
    reference digest, its time the overhead's base), then replays kg_job's
    stages with spans in the timed loop."""
    from knowledgebase_processor_spark import kg_job
    from probes import triples_digest

    def kg_build(pages) -> tuple[str, int]:
        wd = b.fresh_dir("build")
        m = kg_job.run(b.spark, pages, wd, alias_dict=gen.ALIAS_DICT, openie=True)
        return os.path.join(wd, "kg_triples"), int(m["n_triples"])

    kg_build(b.load_pages(gen.make_corpus(b.args.seed, WARM_PAGES), "warm"))
    rows = gen.make_corpus(b.args.seed, BULK_PAGES)
    urls = [r["url"] for r in rows]
    pages = b.load_pages(rows, "corpus")
    for _ in range(INPUT_REPEATS):
        t = time.perf_counter()
        plain_triples(pages).count()
        b.setup_times.append(time.perf_counter() - t)

    tables: list[str] = []
    n_triples = 0
    if b.tr.enabled:
        (ref_path, n_triples), b.untraced_s = _timed(kg_build, pages)
        b.timed_loop(lambda i: tables.append(
            staged_build(b, pages, b.fresh_dir("replay"), kg_job_stages=True)))
    else:
        def op(i):
            nonlocal n_triples
            path, n_triples = kg_build(pages)
            tables.append(path)
        b.timed_loop(op)
        ref_path = tables[0] if tables else None

    b.attempted = len(urls) * len(b.latencies)
    b.failed += len(urls) * len(b.raised)
    if ref_path is None:
        return {"throughput_per_s": 0.0, "named": {}}
    ref = b.spark.read.parquet(ref_path)
    b.failed += missing_documents(ref, urls)
    others = [p for p in tables if p != ref_path]
    ref_digest = triples_digest(ref) if others else None
    for path in others:
        b.check(triples_digest(b.spark.read.parquet(path)) == ref_digest,
                f"{os.path.basename(os.path.dirname(path))}: digest differs "
                "from kg_job.run's")
    check_structural(b, ref, rows)
    med = statistics.median(b.latencies)
    return {"throughput_per_s": n_triples / med,
            "named": {"build_pages_per_s": (len(urls) / med, "1/s"),
                      "build_triples_per_s": (n_triples / med, "1/s")}}


QUERIES = {
    "open_todos": lambda KB, RDF, arg: [
        ("?t", RDF + "type", KB + "TodoItem"), ("?t", KB + "isCompleted", '"false"')],
    "section_levels": lambda KB, RDF, arg: [
        ("?s", RDF + "type", KB + "Section"), ("?s", KB + "hasHeading", "?h"),
        ("?h", KB + "headingLevel", "?l")],
    "ask_backlink": lambda KB, RDF, arg: [("?w", KB + "resolvedDocument", arg)],
}


def pandas_answers(df, mix: list[tuple[str, str]]) -> list:
    """Each query's expected answer from pandas over the same triples:
    describe -> triple count, select -> distinct solutions, ask -> bool."""
    from knowledgebase_processor_spark.uris import KB, RDF

    def typed(t):
        return set(df.loc[(df["pred"] == RDF + "type") & (df["obj"] == KB + t), "subj"])

    open_todos = len(typed("TodoItem") & set(df.loc[
        (df["pred"] == KB + "isCompleted") & (df["obj"] == "false") & ~df["obj_is_uri"], "subj"]))
    has_heading = df.loc[(df["pred"] == KB + "hasHeading") & df["obj_is_uri"]
                         & df["subj"].isin(typed("Section")), ["subj", "obj"]]
    level = df.loc[df["pred"] == KB + "headingLevel",
                   ["subj", "obj", "obj_is_uri", "obj_datatype"]]
    joined = has_heading.merge(level, left_on="obj", right_on="subj", suffixes=("", "_h"))
    section_levels = len(joined[["subj", "obj", "obj_h", "obj_is_uri", "obj_datatype"]]
                         .drop_duplicates())
    per_subject = df["subj"].value_counts()
    linked = set(df.loc[(df["pred"] == KB + "resolvedDocument") & df["obj_is_uri"], "obj"])
    answer = {"open_todos": lambda a: open_todos,
              "section_levels": lambda a: section_levels,
              "describe": lambda a: int(per_subject.get(a, 0)),
              "ask_backlink": lambda a: a in linked}
    return [answer[k](a) for k, a in mix]


def build_graph(b: Bench, pages) -> str:
    """The structural graph, ``plain_triples`` + ``sinks.merge_upsert``
    into a fresh table, untraced: once over WARM_PAGES pages to warm up
    (untimed), then GRAPH_REPEATS times over ``pages``, timed as set-up.
    Returns the last table."""
    traced, b.tr.enabled = b.tr.enabled, False
    warm = b.load_pages(gen.make_corpus(b.args.seed, WARM_PAGES), "warm-graph")
    upsert(b, plain_triples(warm), os.path.join(b.fresh_dir("graph"), "kg_triples"))
    for _ in range(GRAPH_REPEATS):
        t = time.perf_counter()
        path = os.path.join(b.fresh_dir("graph"), "kg_triples")
        upsert(b, plain_triples(pages), path)
        b.setup_times.append(time.perf_counter() - t)
    b.tr.enabled = traced
    return path


def kg_query(b: Bench) -> dict:
    """Set-up builds the structural graph (``build_graph``).  The traced
    run then builds it once more layer by layer, which must give the same
    table; the warm set-up builds are the overhead's base.  Requests run
    untimed QUERY_WARM_REQUESTS times before the window, because the
    first passes of each query are slower."""
    import pyarrow.parquet as pq
    from knowledgebase_processor_spark.operators import graph_query as gq
    from knowledgebase_processor_spark.uris import KB, RDF
    from probes import TRIPLE_COLS, triples_digest
    corpus = gen.make_corpus(b.args.seed, BASE_PAGES)
    urls = [r["url"] for r in corpus]
    pages = b.load_pages(corpus, "corpus")
    table_path = build_graph(b, pages)
    triples = b.spark.read.parquet(table_path)
    if b.tr.enabled:
        staged = staged_build(b, pages, b.fresh_dir("staged"), kg_job_stages=False)
        b.untraced_s = statistics.median(b.setup_times)
        b.check(triples_digest(b.spark.read.parquet(staged)) == triples_digest(triples),
                "layer-by-layer build differs from the plain build")

    mix = gen.make_query_mix(b.args.seed, urls, QUERY_REQUESTS)
    flat = [q for request in mix for q in request]
    answers = pandas_answers(pq.read_table(table_path, columns=TRIPLE_COLS).to_pandas(), flat)
    expected = [answers[4 * i:4 * i + 4] for i in range(len(mix))]
    b.failed += missing_documents(triples, urls)

    def run_query(kind, arg):
        if kind == "describe":
            return gq.describe(triples, arg).count()
        patterns = QUERIES[kind](KB, RDF, arg)
        if kind == "ask_backlink":
            return gq.ask(triples, patterns)
        return gq.match_bgp(triples, patterns).count()

    query_s: list[float] = []

    def request(i, timed=True):
        for (kind, arg), want in zip(mix[i], expected[i]):
            t = time.perf_counter()
            with b.tr.span("graph_query") as c:
                got = run_query(kind, arg)
            if timed:
                query_s.append(time.perf_counter() - t)
            c["rows_out"] = int(got)
            b.check(got == want, f"{kind}({arg}) = {got}, pandas says {want}")

    traced, b.tr.enabled = b.tr.enabled, False
    for i in range(QUERY_WARM_REQUESTS):
        request(len(mix) - 1 - i, timed=False)
    b.tr.enabled = traced
    b.timed_loop(request, limit=len(mix) - QUERY_WARM_REQUESTS)
    b.attempted = 4 * len(b.latencies)
    b.failed += 4 * len(b.raised)              # a raising query ends its request
    return {"throughput_per_s": len(query_s) / b.window_s,
            "named": {"queries_timed": (len(query_s), "count"),
                      "query_p50_s": (statistics.median(query_s), "s"),
                      "queries_per_s": (len(query_s) / b.window_s, "1/s")}}


def recrawl_upsert(b: Bench) -> dict:
    """Set-up builds the structural graph (``build_graph``), then warms the
    batch path on a copy of it; that warm upsert is the overhead's base.
    Each batch resolves wikilinks against the registry of every url
    crawled so far, so links from an edited page to pages outside its
    batch resolve as in a full build."""
    from probes import triples_digest
    seed = b.args.seed
    corpus = gen.make_corpus(seed, BASE_PAGES)
    batches = gen.make_recrawl_batches(seed, BASE_PAGES, RECRAWL_BATCHES + 1,
                                       RECRAWL_EDITED, RECRAWL_ADDED)
    table_path = build_graph(b, b.load_pages(corpus, "corpus"))

    def registry(urls):
        return b.spark.createDataFrame([(u, u.rsplit("/", 1)[1]) for u in urls],
                                       "doc_id string, path string")

    traced, b.tr.enabled = b.tr.enabled, False
    warm_path = b.fresh_dir("warm")
    shutil.copytree(table_path, warm_path)
    warm_rows = batches.pop()
    _, b.untraced_s = _timed(upsert, b, plain_triples(
        b.load_pages(warm_rows, "warm"), registry([r["url"] for r in corpus + warm_rows])),
        warm_path)
    b.tr.enabled = traced

    frames = [b.load_pages(rows, f"batch-{i}") for i, rows in enumerate(batches)]
    state = {r["url"]: r for r in corpus}

    def op(i):
        state.update((r["url"], r) for r in batches[i])
        reg = registry(list(state))
        if b.tr.enabled:
            from knowledgebase_processor_spark.operators.triples import explode_merged
            from probes import force
            _, resolved = staged_front(b, frames[i], reg)
            with b.tr.span("triples") as c:
                t = force(explode_merged(resolved))
            c["triples_out"] = t.count()
            upsert(b, t, table_path)
        else:
            upsert(b, plain_triples(frames[i], reg), table_path)

    b.timed_loop(op, limit=len(batches))
    pages_done = sum(len(batches[i]) for i in range(len(b.latencies)))
    b.attempted = pages_done
    b.failed += sum(len(batches[i]) for i in b.raised)
    final = list(state.values())
    table = b.spark.read.parquet(table_path)
    b.failed += missing_documents(table, state)
    fresh = plain_triples(b.load_pages(final, "final"))
    b.check(triples_digest(table.drop("part_bucket")) == triples_digest(fresh),
            "upserted table differs from a fresh build of the final corpus")
    check_structural(b, table, final)
    busy = sum(b.latencies)
    return {"throughput_per_s": pages_done / busy,
            "named": {"upsert_p50_s": (statistics.median(b.latencies), "s"),
                      "recrawl_pages_per_s": (pages_done / busy, "1/s")}}


WORKLOADS = {"bulk_build": bulk_build, "kg_query": kg_query,
             "recrawl_upsert": recrawl_upsert}


# ----------------------------------------------------------------- report

def end_to_end(b: Bench, res: dict) -> dict:
    return {"setup_s": (statistics.median(b.setup_times), "s"),
            "op_p50_s": (statistics.median(b.latencies), "s"),
            "throughput_per_s": (res["throughput_per_s"], "1/s")}


def per_layer(b: Bench) -> dict:
    """Layer figures per operation of the timed loop.  Layers that run
    only while the graph is built for kg_query are per build."""
    loop = [s for spans in b.op_spans for s in spans]
    in_loop = {s["layer"] for s in loop}
    n_ops = max(1, len(b.latencies))
    out = {}
    for layer, names in LAYERS.items():
        spans = [s for s in (loop if layer in in_loop else b.tr.spans)
                 if s["layer"] == layer]
        div = n_ops if layer in in_loop else 1
        for name in names:
            if name == "busy_s":
                v = sum(s["end"] - s["start"] for s in spans) / div
            elif name == "spark_jobs":
                v = sum(s["jobs"] for s in spans) / div
            elif name in RATIOS:
                vals = [s["counts"][name] for s in spans if name in s["counts"]]
                v = statistics.mean(vals) if vals else 0.0
            else:
                v = sum(s["counts"].get(name, 0) for s in spans) / div
            out[f"{layer}.{name}"] = (float(v), UNITS.get(name, "count"))
    out["spark.session_start_s"] = (b.session_start_s, "s")
    for k in ("jobs", "tasks", "tasks_failed"):
        out[f"spark.{k}"] = (sum(s[k] for s in loop) / n_ops, "count")
    # traced span sum minus the untraced time of the same work
    if b.args.workload == "kg_query":
        traced = sum(s["end"] - s["start"] for s in b.tr.spans if s not in loop)
    else:
        traced = statistics.median(sum(s["end"] - s["start"] for s in spans)
                                   for spans in b.op_spans)
    out["trace.overhead_s"] = (traced - b.untraced_s, "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "knowledgebase_processor_spark")):
        print("knowledgebase_processor_spark/ is missing beside perfbench/",
              file=sys.stderr)
        return 2

    from probes import RssSampler, stop_spark
    run_dir = os.path.join(os.getcwd(), ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(run_dir)
    b = None
    try:
        with RssSampler() as rss:
            b = Bench(args, run_dir)
            res = WORKLOADS[args.workload](b)
        metrics = per_layer(b) if args.trace else end_to_end(b, res)
    finally:
        if b is not None:
            stop_spark(b.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = not b.errors and b.failed == 0
    print(f"workload {args.workload}  seed {args.seed}  slots {_cpus()}  "
          f"operations {len(b.latencies)} in {b.window_s:.2f} s  "
          f"setup repeats {len(b.setup_times)}")
    shown = dict(metrics)
    if not args.trace:
        shown.update(res["named"])
        # printed, not in the JSON: a few identical runs still peak 400 MB
        # higher in the JVM, more than a regression bound allows
        shown["peak_rss_mb"] = (rss.peak / 2**20, "MB")
        shown["error_rate"] = (b.failed / max(1, b.attempted), "ratio")
    for k, (v, unit) in shown.items():
        print(f"  {k:34s} {v:14.6g} {unit}")
    print(f"  {'correct':34s} {str(correct):>14s}")
    print(json.dumps({
        "correct": correct, "attempted": b.attempted, "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
