"""The benchmark workloads and their correctness gate.

A workload generates its inputs from the seed (``prepare``), computes the
expected results once with DuckDB (outside every timed interval), and yields
passes of operations. An ``Op`` is one call into the package's public entry
points (``run``) plus the check of its result (``check``); the runner times
``run`` alone.

- ``etl_dag``: ``orchestration.process_html_dag`` over a generated corpus.
- ``analyst_mix``: eleven short catalog queries, one client, closed loop.

The curation queries and the crawler are measured by the traced run's
sweep (``trace.py``), which checks their results the same way.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from perfbench import gen
from perfbench.spans import Tracer

# input sizes; every input directory holds all fixture tables: the
# TPC-H-shaped ones at ``*_ORDERS`` orders plus ``documents``. The warm-up
# input is the small one the set-up passes run on.
ETL_DOCS = 20000
ANALYST_ORDERS, ANALYST_DOCS = 15000, 2000
WARM_ORDERS, WARM_DOCS = 3000, 1000

ANALYST_QUERIES = (
    "q01_pricing_summary",
    "q04_orderby_limit",
    "q11_star_join",
    "q12_fact_fact_join",
    "q13_left_join",
    "q20_window_topk",
    "q44_category_distribution",
    "q57_cosine_topk",
    "q67_tfidf_top_terms",
    "q69_sentiment",
    "q70_stream_tumbling",
)


def short(query_name: str) -> str:
    """``q01_pricing_summary`` -> ``q01`` (metric-name suffix)."""
    return query_name.split("_", 1)[0]


# ------------------------------------------------------------- the gate


def canon(v: Any) -> str:
    """Canonical text of one value; floats by exact repr (the catalog's
    oracles are bit-exact), decimals with their scale."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes | bytearray):
        return v.hex()
    return str(v)


def result_hash(columns: list[str], rows: list) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows as a
    sorted multiset of canonical lines."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    body = ",".join(columns[i] for i in order) + "\n" + "\n".join(lines)
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_hashes(data_dir: str, names: tuple[str, ...]) -> dict[str, str]:
    """Expected result hash per catalog query, from its DuckDB oracle SQL run
    on the generated parquet files."""
    import duckdb

    from wikipediaetl_spark.catalog import all_queries

    queries = all_queries()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
                )
        out = {}
        for name in names:
            res = con.execute(queries[name].oracle)
            cols = [d[0] for d in res.description]
            out[name] = result_hash(cols, res.fetchall())
        return out
    finally:
        con.close()


def etl_oracle_counts(data_dir: str) -> dict[str, int]:
    """Row counts the DAG's manifest must report, computed by DuckDB from the
    same HTML synthesis and category extraction SQL the catalog oracles use."""
    import duckdb

    from wikipediaetl_spark.functions.html import EXTRACT_CATEGORIES_SQL, SYNTH_HTML_SQL

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data_dir}/documents.parquet')"
        )
        n_pages, n_cats, n_bridge = con.execute(f"""
            WITH pages AS (SELECT documents.*, {SYNTH_HTML_SQL} AS html FROM documents),
            cats AS (SELECT doc_id, unnest({EXTRACT_CATEGORIES_SQL}) AS name FROM pages)
            SELECT (SELECT count(*) FROM pages),
                   (SELECT count(DISTINCT name) FROM cats),
                   (SELECT count(*) FROM (SELECT DISTINCT doc_id, name FROM cats))
        """).fetchone()
        return {
            "pages": n_pages,
            "categories": n_cats,
            "page_categories": n_bridge,
            "html_texts": n_pages,
        }
    finally:
        con.close()


# ------------------------------------------------------------ workloads


@dataclass
class Op:
    label: str
    run: Callable[[], Any]
    items: float
    check: Callable[[Any], bool]


def _query_op(spark, name: str, data_dir: str, expected: str, items: float,
              tracer: Tracer) -> Op:
    from wikipediaetl_spark.catalog import all_queries

    fn = all_queries()[name].fn

    def run():
        with tracer.span(f"catalog.build.{short(name)}"):
            df = fn(spark, data_dir)
        with tracer.span(f"exec.{short(name)}"):
            return df.columns, df.collect()

    return Op(short(name), run, items, query_check(expected))


def query_check(expected: str) -> Callable[[Any], bool]:
    """Check of a query op's (columns, rows) against the oracle's hash."""
    return lambda res: result_hash(*res) == expected


def dag_check(expected: dict[str, int]) -> Callable[[Any], bool]:
    """Check of a ``DagRun``: ``success``, with the transform's manifest equal
    to the oracle's row counts."""
    return lambda run: (run.state == "success"
                        and run.results["transform_htmls"].value == expected)


class Workload:
    name = ""
    n_docs = 0  # documents in the measured input

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.data_dir = f"{work_dir}/{self.name}"
        self.warm_dir = f"{work_dir}/warm"
        self.rng = random.Random(seed)
        self.tracer = Tracer()  # replaced by an enabled one in traced passes
        self.expected: dict[str, Any] = {}  # per input directory

    def prepare(self) -> dict:
        """Generate the measured input and the small warm-up input, and their
        expected results; returns the input record."""
        info = {}
        for d, n_orders, n_docs in ((self.data_dir, ANALYST_ORDERS, self.n_docs),
                                    (self.warm_dir, WARM_ORDERS, WARM_DOCS)):
            info[os.path.basename(d)] = gen.write_tables(d, self.seed, n_orders, n_docs)
            self.expected[d] = self.expect(d)
        return info

    def expect(self, data_dir: str) -> Any:
        """Expected results on ``data_dir``, computed with DuckDB."""
        raise NotImplementedError

    def ops(self, spark, data_dir: str) -> list[Op]:
        """One pass of operations over ``data_dir``."""
        raise NotImplementedError


class EtlDag(Workload):
    name = "etl_dag"
    n_docs = ETL_DOCS

    def expect(self, data_dir: str) -> dict[str, int]:
        return etl_oracle_counts(data_dir)

    def ops(self, spark, data_dir: str) -> list[Op]:
        from wikipediaetl_spark.orchestration import process_html_dag

        out = f"{self.work_dir}/out"
        n_docs = self.expected[data_dir]["pages"]
        return [Op("dag", lambda: process_html_dag(spark, data_dir, out), n_docs,
                   dag_check(self.expected[data_dir]))]


class AnalystMix(Workload):
    name = "analyst_mix"
    n_docs = ANALYST_DOCS

    def expect(self, data_dir: str) -> dict[str, str]:
        return oracle_hashes(data_dir, ANALYST_QUERIES)

    def ops(self, spark, data_dir: str) -> list[Op]:
        names = list(ANALYST_QUERIES)
        self.rng.shuffle(names)
        return [_query_op(spark, q, data_dir, self.expected[data_dir][q], 1, self.tracer)
                for q in names]


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (EtlDag, AnalystMix)}
