"""Traced run: spans around calls into the package, and the per-layer sweep.

Spans are recorded from outside the package: module attributes listed in
``PATCHES`` are wrapped for the traced pass, and the benchmark's own calls
open spans around query building and execution. Spans live in memory and
are written to ``.perfbench/spans-<workload>-<seed>.json`` when the run ends.

The sweep re-invokes each layer's public function, sending DataFrame
results to the ``noop`` sink, and yields every per-layer metric declared in
BENCHMARK.json. The ETL layers run on the workload's own input; the
curation and analyst queries on a sweep input of fixed size generated from
the same seed; the crawler on the synthetic site. Every result the sweep
collects is checked after its timer stops, as the workloads' results are:
queries against their DuckDB oracle's hash, the DAG and ``run_pipeline``
against the oracle's row counts, the crawl against a Python BFS of the
site. Layers the workload's own passes already ran are warm; the others
run for the first time in the JVM, in the same order on every run; the
sweep starts with the DAG so the ETL layers are measured warm on every
workload.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time
import uuid
from collections.abc import Callable

from perfbench import gen
from perfbench.spans import Tracer
from perfbench.workloads import (
    ANALYST_DOCS,
    ANALYST_ORDERS,
    ANALYST_QUERIES,
    dag_check,
    etl_oracle_counts,
    oracle_hashes,
    result_hash,
    short,
)

CURATION_QUERIES = (
    "q51_hash_dedup",
    "q168_shingle_neardup_full",
    "q86_decontamination",
    "q142_gopher_rules",
    "q60_lang_id",
)
SITE_PAGES = 585  # a complete 8-ary tree: 4 levels

# (module, attribute, span name): the package entry points the traced pass
# wraps. ``load_table`` is wrapped where each operator module imported it.
PATCHES = (
    ("wikipediaetl_spark.orchestration", "run_dag", "orchestration.run_dag"),
    ("wikipediaetl_spark.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("wikipediaetl_spark.pipeline", "process_corpus", "operators.etl.process_corpus"),
    ("wikipediaetl_spark.operators.etl", "corpus", "operators.etl.corpus"),
    ("wikipediaetl_spark.operators.etl", "categorizer_tables_from",
     "operators.etl.categorizer_tables_from"),
    ("wikipediaetl_spark.streaming.crawler", "crawl", "streaming.crawler.crawl"),
    ("wikipediaetl_spark.sources.http", "fetch_urls", "sources.http.fetch_urls"),
    ("wikipediaetl_spark.operators.etl", "load_table", "sources.load_table"),
    ("wikipediaetl_spark.operators.dedup", "load_table", "sources.load_table"),
    ("wikipediaetl_spark.operators.relational", "load_table", "sources.load_table"),
    ("wikipediaetl_spark.operators.similarity", "load_table", "sources.load_table"),
    ("wikipediaetl_spark.operators.text_analysis", "load_table", "sources.load_table"),
    ("wikipediaetl_spark.operators.pipeline_ops", "load_table", "sources.load_table"),
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn: Callable):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class SweepInput:
    """What the sweep runs on, with its expected results, all computed
    before set-up: the workload's ETL row counts, the sweep input's query
    hashes and candidate-pair count, and the crawl site's reachable set."""

    def __init__(self, wl):
        self.etl_dir = wl.data_dir
        self.query_dir = f"{wl.work_dir}/sweep"
        self.info = gen.write_tables(self.query_dir, wl.seed, ANALYST_ORDERS, ANALYST_DOCS)
        self.etl_rows = etl_oracle_counts(self.etl_dir)
        self.hashes = oracle_hashes(self.query_dir, CURATION_QUERIES + ANALYST_QUERIES)
        self.candidate_pairs = candidate_pairs(self.query_dir)
        self.site = gen.Site(wl.seed, SITE_PAGES)
        self.pages, _, _ = self.site.reachable()


class Checks:
    """Counts the sweep's checked results; a wrong one is reported."""

    def __init__(self):
        self.attempted = self.failed = 0

    def __call__(self, label: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            print(f"sweep {label}: wrong result", file=sys.stderr)
            self.failed += 1


def sweep(spark, si: SweepInput, tracer: Tracer, out_dir: str) -> tuple[dict, Checks]:
    """Every per-layer metric, and the checks of the results behind them."""
    from pyspark.sql import functions as F

    from wikipediaetl_spark import plans
    from wikipediaetl_spark.catalog import all_queries
    from wikipediaetl_spark.functions.html import (
        extract_categories_expr,
        extract_last_edited_expr,
        extract_text_expr,
    )
    from wikipediaetl_spark.functions.urls import is_domain, normalize_url
    from wikipediaetl_spark.operators.etl import corpus, process_corpus
    from wikipediaetl_spark.orchestration import process_html_dag
    from wikipediaetl_spark.pipeline import run_pipeline
    from wikipediaetl_spark.sources import http, load_table
    from wikipediaetl_spark.streaming import crawler

    d, qd = si.etl_dir, si.query_dir
    queries = all_queries()
    m: dict[str, float] = {}
    check = Checks()

    def span(name: str, fn: Callable):
        with tracer.span(name):
            return _timed(fn)

    # orchestration first: on a workload that does not run the DAG, this
    # call absorbs the first-call costs, so the ETL layers below are warm
    # on every workload. DAG time minus the pipeline task it wraps.
    mark = len(tracer.spans)
    with tracer.patched(PATCHES):
        run, m["orchestration.run_dag_s"] = span(
            "orchestration.process_html_dag", lambda: process_html_dag(spark, d, out_dir))
    check("process_html_dag", dag_check(si.etl_rows)(run))
    inner = sum(s["end"] - s["start"] for s in tracer.spans[mark:]
                if s["name"] == "pipeline.run_pipeline")
    m["orchestration.overhead_s"] = m["orchestration.run_dag_s"] - inner
    m["orchestration.task_attempts"] = float(sum(r.attempts for r in run.results.values()))

    # sources and functions
    _, m["sources.load_table.scan_s"] = span(
        "sources.load_table", lambda: _noop(load_table(spark, d, "documents")))
    m["sources.load_table.input_bytes"] = float(os.path.getsize(f"{d}/documents.parquet"))
    _, m["functions.html.synth_s"] = span(
        "functions.html.synth", lambda: _noop(corpus(spark, d).select("html", "file_name")))
    c = corpus(spark, d).persist()
    c.count()
    html = F.col("html")
    _, m["functions.html.extract_s"] = span("functions.html.extract", lambda: _noop(c.select(
        extract_text_expr(html), extract_categories_expr(html), extract_last_edited_expr(html))))
    c.unpersist()

    # operators.etl: the four DAG tables written to noop from one shared corpus
    def materialized_corpus():
        tables = process_corpus(spark, d)
        tables["_corpus"].count()  # process_corpus persists lazily
        return tables

    etl_tables = (("pages", "pages"), ("categories", "categories"),
                  ("page_categories", "page_categories"), ("converter_output", "converter"))

    def etl_noop():
        tables, m["operators.etl.process_corpus_s"] = span(
            "operators.etl.process_corpus", materialized_corpus)
        handle = tables.pop("_corpus")
        for key, metric in etl_tables:
            _, m[f"operators.etl.{metric}_s"] = span(
                f"operators.etl.{metric}", lambda df=tables[key]: _noop(df))
        handle.unpersist()
        return tables

    tables, noop_total = _timed(etl_noop)
    for key, _ in etl_tables:
        out_name = "html_texts" if key == "converter_output" else key
        m[f"plans.exchanges.etl.{out_name}"] = float(plans.count_exchanges(tables[key]))
        m[f"plans.lint_findings.etl.{out_name}"] = float(len(plans.lint_plan(tables[key])))
    manifest, m["pipeline.run_pipeline_s"] = span(
        "pipeline.run_pipeline", lambda: run_pipeline(spark, d, out_dir))
    check("run_pipeline", manifest == si.etl_rows)
    m["sources.parquet_write_s"] = m["pipeline.run_pipeline_s"] - noop_total
    for table, n in manifest.items():
        m[f"operators.etl.rows.{table}"] = float(n)

    # curation operators
    def query(name: str):
        fn = queries[name].fn

        def run_query():
            df = fn(spark, qd)
            return df.columns, df.collect()

        (cols, rows), secs = span(f"catalog.{short(name)}", run_query)
        check(short(name), result_hash(cols, rows) == si.hashes[name])
        return rows, secs

    rows, m["operators.dedup.q51_s"] = query("q51_hash_dedup")
    m["operators.dedup.unique_contents"] = float(len(rows))
    rows, m["operators.dedup.q168_s"] = query("q168_shingle_neardup_full")
    m["operators.dedup.verified_pairs"] = float(len(rows))
    m["operators.dedup.candidate_pairs"] = float(si.candidate_pairs)
    m["operators.dedup.pair_precision"] = (
        m["operators.dedup.verified_pairs"] / max(1.0, m["operators.dedup.candidate_pairs"]))
    _, m["operators.pipeline_ops.q86_s"] = query("q86_decontamination")
    _, m["operators.text_analysis.q60_s"] = query("q60_lang_id")
    _, m["operators.text_analysis.q142_s"] = query("q142_gopher_rules")

    # analyst queries: build, plan, execute, plan shape
    for name in ANALYST_QUERIES:
        q = short(name)
        df, m[f"catalog.build_s.{q}"] = span(
            f"catalog.build.{q}", lambda n=name: queries[n].fn(spark, qd))
        _, m[f"plans.plan_s.{q}"] = span(f"plans.plan.{q}", lambda: plans.physical_ops(df))
        rows, m[f"exec_s.{q}"] = span(f"exec.{q}", df.collect)
        check(q, result_hash(df.columns, rows) == si.hashes[name])
        m[f"plans.exchanges.{q}"] = float(plans.count_exchanges(df))
        m[f"plans.lint_findings.{q}"] = float(len(plans.lint_plan(df)))
    m["streaming.queries.q70_s"] = m["catalog.build_s.q70"] + m["exec_s.q70"]

    # crawler: rounds and frontier sizes are read by wrapping fetch_urls;
    # the frontier counts are spans of their own and are subtracted
    site = si.site
    frontiers: list[int] = []
    orig_fetch = http.fetch_urls

    def counting_fetch(urls, transport):
        with tracer.span("probe.frontier_count"):
            frontiers.append(urls.count())
        return orig_fetch(urls, transport)

    mark = len(tracer.spans)
    http.fetch_urls = counting_fetch
    try:
        res, crawl_s = span("streaming.crawler.crawl",
                            lambda: crawler.crawl(spark, [site.url(0)], site, max_rounds=50))
    finally:
        http.fetch_urls = orig_fetch
    probes = sum(s["end"] - s["start"] for s in tracer.spans[mark:]
                 if s["name"] == "probe.frontier_count")
    m["streaming.crawler.crawl_s"] = crawl_s - probes
    m["streaming.crawler.rounds"] = float(len(frontiers))
    m["streaming.crawler.max_frontier"] = float(max(frontiers))
    pages = [r.url for r in res["pages"].select("url").collect()]
    check("crawl", len(pages) == len(si.pages) and set(pages) == si.pages)
    m["streaming.crawler.pages"] = float(len(pages))

    urls = spark.createDataFrame([(site.url(i),) for i in range(site.n_pages)], "url string")
    _, m["sources.http.fetch_urls_s"] = span(
        "sources.http.fetch_urls", lambda: _noop(http.fetch_urls(urls, site)))
    hrefs = spark.createDataFrame(
        [(h,) for i in range(site.n_pages) for h, _ in site.links(i)], "href string")
    _, m["functions.urls.normalize_s"] = span("functions.urls.normalize", lambda: _noop(
        hrefs.select(normalize_url(F.col("href")).alias("u")).filter(is_domain(F.col("u")))))
    return m, check


def candidate_pairs(data_dir: str) -> int:
    """Rows of the ``cand`` CTE of q168's oracle: the MinHash-banded
    candidate pairs, which the oracle shares with the Spark plan (the hash
    check holds the two equal on every run)."""
    import duckdb

    from wikipediaetl_spark.catalog import all_queries

    oracle = all_queries()["q168_shingle_neardup_full"].oracle
    cut = re.search(r",\s*sets\s+AS\s*\(", oracle)
    if cut is None:
        raise ValueError("q168's oracle no longer has a `cand` CTE followed by `sets`")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{data_dir}/documents.parquet')")
        return con.execute(oracle[: cut.start()] + " SELECT count(*) FROM cand").fetchone()[0]
    finally:
        con.close()


def traced_run(wl, args, run_dir: str):
    """Set up, run one untraced and one traced pass of the workload, read
    the peak memory, then run the sweep. Returns (metrics, attempted,
    failed, extra-info)."""
    from perfbench.run import measure, peak_rss_mb, setup

    si = SweepInput(wl)
    tracer = Tracer(uuid.uuid4().hex[:12])
    spark, cycles, _, (warm_attempted, warm_failed) = setup(
        wl, f"perfbench-{wl.name}-trace", tracer)
    plain = measure(wl, spark, 0, wl.data_dir)
    t0 = time.perf_counter()
    wl.tracer = tracer
    with tracer.patched(PATCHES):
        traced = measure(wl, spark, 0, wl.data_dir)
    t1 = time.perf_counter()
    wl.tracer = Tracer()
    # the workload's own peak, before the sweep runs the other layers
    rss = peak_rss_mb(spark)
    metrics, check = sweep(spark, si, tracer, f"{wl.work_dir}/sweep_out")
    metrics |= {
        "session.get_spark_s": statistics.median(c[0] for c in cycles),
        "session.get_spark_cold_s": cycles[0][0],
        "trace.overhead_s": traced["busy"] - plain["busy"],
        "trace.span_coverage": tracer.covered(t0, t1) / (t1 - t0),
        "peak_rss_mb": rss,
    }
    path = os.path.join(run_dir, os.pardir, f"spans-{wl.name}-{args.seed}.json")
    tracer.dump(os.path.normpath(path))
    own: dict[str, float] = {}
    for span_id, self_s in tracer.self_times().items():
        name = tracer.spans[span_id]["name"]
        own[name] = own.get(name, 0.0) + self_s
    extra = {"spark": spark, "sweep_input": si.info, "traced_pass_s": traced["busy"],
             "untraced_pass_s": plain["busy"], "sweep_checks": check.attempted,
             "spans": len(tracer.spans), "spans_file": os.path.relpath(os.path.normpath(path)),
             "self_s_by_span": dict(sorted(own.items(), key=lambda kv: -kv[1]))}
    attempted = warm_attempted + plain["attempted"] + traced["attempted"] + check.attempted
    failed = warm_failed + plain["failed"] + traced["failed"] + check.failed
    return metrics, attempted, failed, extra
