"""The examples/ pipeline must stay runnable: first run pushes everything,
second run (same data) pushes nothing."""

from __future__ import annotations

import os

from tests.conftest import SF0001


def test_etl_pipeline_example_runs_and_is_incremental(spark, tmp_path):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__))))
    from ai_to_cvent_etl_spark.connectors.rest import read_sink_output
    from examples.etl_pipeline import run

    out = str(tmp_path / "etl")
    first = run(SF0001, out)
    assert first["current_rows"] > 0
    assert first["pushed_rows"] == first["current_rows"]  # first load: all inserts

    batches = read_sink_output(first["rest_dir"], first["run_id"])
    pushed = sum(b["n_records"] for b in batches)
    assert pushed == first["pushed_rows"]

    second = run(SF0001, out)
    assert second["pushed_rows"] == 0  # nothing changed -> nothing pushed
    assert read_sink_output(second["rest_dir"], second["run_id"]) == []


def test_curation_pipeline_example_runs_and_contracts(spark, tmp_path):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__))))
    from examples.curation_pipeline import run

    out = str(tmp_path / "curation")
    r = run(SF0001, out)
    # monotone funnel: each stage only removes rows
    assert (
        r["input_rows"]
        >= r["sampled_rows"]
        >= r["gated_rows"]
        >= r["exact_unique_rows"]
        >= r["curated_rows"]
        > 0
    )
    # curated shards are readable and lang-partitioned
    got = spark.read.parquet(r["curated_dir"])
    assert got.count() == r["curated_rows"]
    assert "lang" in got.columns
