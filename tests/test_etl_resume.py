"""End-to-end ETL resume integration test (VERDICT r5 task 8).

Composes the reference job shape — extract events → normalize →
latest-per-key compaction → incremental diff vs previous load → batched
REST push → atomic snapshot commit — and proves IDEMPOTENT RESUME: the
pipeline process is HARD-KILLED mid-push (os._exit inside the transport,
fault injected through the example's CLI), rerun with the same
run_id, and the final sink + staging state must equal (a) a clean one-shot
run and (b) the E2-style latest-per-key oracle compaction computed by
DuckDB on the same parquet.

Each pipeline run is a separate subprocess with its own SparkSession —
exactly how the production job restarts.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import duckdb
import pytest

from tests.conftest import SF0001 as SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "examples", "etl_pipeline.py")


def _run(out_dir: str, run_id: str, kill_after: int) -> int:
    proc = subprocess.run(
        [sys.executable, SCRIPT, SF, out_dir, run_id, str(kill_after)],
        capture_output=True,
        text=True,
        timeout=420,
    )
    return proc.returncode


def _sink_records(out_dir: str, run_id: str) -> list[tuple]:
    sys.path.insert(0, REPO)
    from ai_to_cvent_etl_spark.connectors.rest import read_sink_output

    recs = []
    for batch in read_sink_output(os.path.join(out_dir, "rest"), run_id):
        for r in batch["records"]:
            recs.append(
                (r["event_id"], r["user_id"], r["event_type"], r["value"])
            )
    return sorted(recs)


@pytest.fixture(scope="module")
def clean_dir(tmp_path_factory):
    """One clean one-shot ``load001`` run, shared by the tests below."""
    d = str(tmp_path_factory.mktemp("etl") / "clean")
    assert _run(d, "load001", kill_after=0) == 0
    return d


def test_kill_mid_push_then_resume_converges(clean_dir, tmp_path):
    crash_dir = str(tmp_path / "crash")
    rid = "load001"

    # faulted run: the worker pushing partition 2 hard-crashes before the
    # partition lands -> job aborts, sink is partial; resume, SAME run_id
    rc = _run(crash_dir, rid, kill_after=3)
    assert rc != 0, "fault injection did not kill the process"
    partial = _sink_records(crash_dir, rid)
    assert len(partial) < len(_sink_records(clean_dir, rid)), (
        "crashed run left a complete sink — fault did not bite"
    )
    assert _run(crash_dir, rid, kill_after=0) == 0

    clean = _sink_records(clean_dir, rid)
    resumed = _sink_records(crash_dir, rid)
    assert resumed == clean, "resumed sink state != clean one-shot state"
    # no duplicates: event_ids unique
    ids = [r[0] for r in resumed]
    assert len(ids) == len(set(ids))

    # both runs committed the same snapshot pointer
    for d in (clean_dir, crash_dir):
        with open(os.path.join(d, "staging", "CURRENT")) as f:
            assert f.read().strip() == f"v_{rid}"

    # final state == the E2-style latest-per-key oracle compaction
    con = duckdb.connect()
    oracle = con.sql(
        f"""
        SELECT event_id, user_id, upper(event_type) AS event_type,
               round(value, 2) AS value
        FROM parquet_scan('{SF}/events.parquet')
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY event_id
        """
    ).fetchall()
    assert sorted((r[0], r[1], r[2], r[3]) for r in oracle) == resumed


def test_second_load_pushes_empty_diff(clean_dir, tmp_path):
    """After a committed load, rerunning with a NEW run_id diffs against
    the committed snapshot and pushes nothing (no source changes). The
    committed load is a copy of the shared clean run: its ``CURRENT``
    pointer is relative, so the copy is a committed load of its own."""
    d = str(tmp_path / "incr")
    shutil.copytree(clean_dir, d)
    assert _run(d, "load002", kill_after=0) == 0
    assert _sink_records(d, "load002") == []
    with open(os.path.join(d, "staging", "CURRENT")) as f:
        assert f.read().strip() == "v_load002"
