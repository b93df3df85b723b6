"""Self-tests of the benchmark (not of the engine).

Run from the repository root:  python3 -m pytest perfbench -q
The Spark test starts a local[2] session and takes about a minute.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_tiny")


# ------------------------------------------------------------ event log

def test_eventlog_assigns_stages_by_window():
    log = eventlog.parse(eventlog.read_events(FIXTURE))
    assert len(log["stages"]) == 3 and len(log["jobs"]) == 3
    a = eventlog.stage_stats(eventlog.stages_in(log, [(900, 2000)]))
    assert a["stages"] == 1 and a["tasks"] == 2
    assert a["task_sum_s"] == pytest.approx(0.6)
    assert a["max_task_s"] == pytest.approx(0.4)
    assert a["skew"] == pytest.approx(0.4 / 0.3)
    assert a["gc_s"] == pytest.approx(0.04)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    b = eventlog.stage_stats(eventlog.stages_in(log, [(2000, 2500), (2900, 3500)]))
    assert b["stages"] == 2 and b["tasks"] == 3
    assert b["task_sum_s"] == pytest.approx(0.65)
    jobs = eventlog.jobs_in(log, [(900, 2000)])
    assert [j["call_site"].split()[0] for j in jobs] == ["collect"]


def test_eventlog_stage_coverage_merges_overlaps():
    log = eventlog.parse(eventlog.read_events(FIXTURE))
    stages = list(log["stages"].values())
    # stages cover 1000-1500, 2100-2600, 3000-3100 of the 0-4000 window
    assert eventlog.covered_ms(stages, (0, 4000)) == pytest.approx(1100)
    assert eventlog.covered_ms(stages, (1200, 2200)) == pytest.approx(400)


def test_checkpoint_jobs_attributed_by_call_site():
    import tracing

    log = eventlog.parse(eventlog.read_events(FIXTURE))
    tr = tracing.Tracer(None)
    # one window over all three jobs: only the file write and the
    # pipeline.py `collect` belong to the checkpoint layer
    tr.set("pipeline.checkpoint", exec_s=3.2)
    tr.windows["pipeline.checkpoint"] = [(900, 4000)]
    tracing.attach_eventlog(tr, log, (900, 4000), cores=2)
    ck = tr.layers["pipeline.checkpoint"]
    assert (ck["write_jobs"], ck["lineage_jobs"]) == (1, 1)
    assert ck["exec_s"] == pytest.approx(0.52 + 0.65)
    assert ck["lineage_s"] == pytest.approx(0.52)
    assert ck["tasks"] == 3 and ck["task_sum_s"] == pytest.approx(1.1)
    assert ck["output_mb"] == pytest.approx(3.0)
    assert ck["shuffle_write_mb"] == pytest.approx(2.0)


def test_eventlog_refuses_compressed_log(tmp_path):
    p = tmp_path / "app-1.zstd"
    p.write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compressed"):
        list(eventlog.read_events(str(p)))


# --------------------------------------------------------------- checks

def test_seed0_pins_match_recorded_counts():
    pins = run.load_pins()
    assert {k: pins["pyramid_sf0.1"]["0"][k] for k in ("tiles", "features")} == \
        {"tiles": 5769, "features": 34114}
    comp = pins["companions_sf0.1"]["0"]
    assert (comp["pip_rows"], comp["minhash_pairs"]) == (1418, 256)


def test_corrupted_digest_counts_as_failed():
    r = run.Run("pyramid_sf0.1", 0, 0.0)
    good = dict(r.pin)
    assert r.check(good)
    bad = dict(good, digest=good["digest"] ^ 1)
    assert not r.check(bad)
    assert (r.attempted, r.failed) == (2, 1)
    line = json.loads(run.result_line(r, {"wall_s": 1.5}, {"wall_s": "s"}))
    assert line["correct"] is False and line["failed"] == 1 and line["attempted"] == 2


def test_unpinned_seed_must_repeat_first_rep():
    r = run.Run("pyramid_sf0.1", 10**9 + 7, 0.0)
    assert r.pin is None
    first = {"tiles": 10, "features": 20, "empty_tiles": 0, "digest": 5}
    assert r.check(first)
    assert not r.check(dict(first, features=21))
    assert not r.check(None)
    assert r.failed == 2


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


# ---------------------------------------------------------------- inputs

@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p)
    s = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_seeded_inputs_are_deterministic_and_seed_changes_digest(spark):
    import workloads

    def ids(seed):
        return [r.doc_id for r in workloads.load_docs(spark, seed).orderBy("doc_id").collect()]

    assert ids(3) == ids(3)
    assert [i - 3 * workloads.DOC_ID_STRIDE for i in ids(3)] == ids(0)

    def digest(seed):
        docs = workloads.load_docs(spark, seed).orderBy("doc_id").limit(200)
        return workloads.pyramid_rep(spark, docs)

    d0 = digest(0)
    assert d0 == digest(0)
    assert d0["digest"] != digest(1)["digest"]
