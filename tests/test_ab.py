"""The within-run A/B harness (tools/ab.py): a conf sweep over one query
passes its value-identity gate, and a divergent arm fails it."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tools import ab
from wikipediaetl_spark.catalog import all_queries


def wrong_q01(spark, sf_dir):
    """q01 with one planted wrong value: must not hash like q01."""
    df = all_queries()["q01_pricing_summary"].fn(spark, sf_dir)
    return df.withColumn("count_order", F.col("count_order") + 1)


def test_ab_conf_sweep_and_divergent_arm(spark, sf_dir, capsys):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    rc = ab.main(["--sf", sf_dir, "--reps", "1", "--conf", f"{key}=2,4", "q01"], spark)
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert row["query"] == "q01_pricing_summary"
    assert set(row["arms"]) == {f"{key}=2", f"{key}=4"}
    assert all(len(a["runs"]) == 1 for a in row["arms"].values())
    assert row["ratio"][f"{key}=2"] == 1.0
    assert spark.conf.get(key) == before  # the sweep restores the session conf

    rc = ab.main(["--sf", sf_dir, "--reps", "1", "q01", f"{__name__}:wrong_q01"], spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc != 0
    assert out["error"] == "arms diverged"
