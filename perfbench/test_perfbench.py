"""The benchmark's own tests: ``python -m pytest perfbench -q`` from the
repository root. The last test runs the benchmark command itself (about
three minutes)."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import duckdb

from perfbench import gen, run
from perfbench.workloads import ANALYST_QUERIES, Op, oracle_hashes, query_check

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digests(path: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(path))}


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info_a = gen.write_tables(a, 7, 600, 200)
    info_b = gen.write_tables(b, 7, 600, 200)
    gen.write_tables(c, 8, 600, 200)
    assert _digests(a) == _digests(b)
    assert info_a == info_b
    assert _digests(a)["documents.parquet"] != _digests(c)["documents.parquet"]
    assert info_a["planted"] == {"near_dup_docs": 40, "exact_dup_docs": 10, "original_docs": 150}
    site, again = gen.Site(7, 73), gen.Site(7, 73)
    assert [site(site.url(i)) for i in range(80)] == [again(again.url(i)) for i in range(80)]
    pages, admitted, levels = site.reachable()
    assert len(pages) == 73 and admitted > pages and levels >= 3


def test_planted_duplicates_are_present(tmp_path):
    table, planted = gen.documents(3, 400)
    texts = table.column("text").to_pylist()
    assert len(texts) - len(set(texts)) >= planted["exact_dup_docs"] * 0.8


class _OneQuery:
    """A workload whose single op returns a fixed result."""

    def __init__(self, result, check):
        self.result, self.check = result, check

    def ops(self, spark, data_dir):
        return [Op("q", lambda: self.result, 1, self.check)]


def test_planted_wrong_result_raises_error_rate(tmp_path):
    data = str(tmp_path / "d")
    gen.write_tables(data, 5, 600, 100)
    name = ANALYST_QUERIES[1]  # q04: 20 rows
    expected = oracle_hashes(data, (name,))[name]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{data}/orders.parquet')")
    from wikipediaetl_spark.catalog import all_queries

    res = con.execute(all_queries()[name].oracle)
    cols, rows = [d[0] for d in res.description], res.fetchall()
    good = run.measure(_OneQuery((cols, rows), query_check(expected)), None, 0, data)
    assert (good["attempted"], good["failed"]) == (1, 0)
    wrong = [rows[0][:-1] + (rows[0][-1] + 0.01,)] + rows[1:]
    bad = run.measure(_OneQuery((cols, wrong), query_check(expected)), None, 0, data)
    assert (bad["attempted"], bad["failed"]) == (1, 1)
    assert bad["pass_rates"] == [0.0] and bad["latencies"] == []


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_output_metrics_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run("etl_dag", trace)
        declared = {m["name"]: m["unit"] for m in bench[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
        assert res["correct"] and res["failed"] == 0
