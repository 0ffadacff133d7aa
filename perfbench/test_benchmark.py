"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

``test_smoke`` runs the gated workloads (``serve`` and ``batch``, which is
the ``iterate`` and ``ingest_dump`` pools together) untraced and traced with
minimal passes and the oracle check on (several minutes); the rest are
instant.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402


def test_benchmark_json_matches_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.POOLS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.RESULT_END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.RESULT_PER_LAYER)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_batch_pool_is_iterate_plus_ingest_dump():
    assert run.POOLS["batch"] == run.POOLS["iterate"] + run.POOLS["ingest_dump"]
    for pool in run.POOLS.values():
        assert len(set(pool)) == len(pool)


def test_parse_metric():
    assert layers._parse_metric("1.6 s") == 1.6
    assert layers._parse_metric("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048.0
    assert layers._parse_metric("1,234") == 1234.0
    assert layers._parse_metric(None) == 0.0


def test_covered_clips_and_merges():
    assert layers._covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == 3.0
    assert layers._covered([], 0, 1) == 0.0


def test_layer_of():
    assert layers.layer_of("acousticbrainz_server_spark.sources.tables") == "sources.read"
    assert layers.layer_of("acousticbrainz_server_spark.sources.archive") == "sources.write"
    assert layers.layer_of("acousticbrainz_server_spark.dedup.minhash") == "dedup"
    assert layers.layer_of("acousticbrainz_server_spark.plans.relational") is None


def test_smoke():
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"], capture_output=True, text=True,
                       cwd="/", timeout=1800)
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    runs = {(x["workload"], x["trace"]): x for x in summary["runs"]}
    assert set(runs) == {(w, t) for w in ("serve", "batch") for t in (0, 1)}
    for (_, trace), res in runs.items():
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        want = run.RESULT_PER_LAYER if trace else run.RESULT_END_TO_END
        assert [k for k, _ in want] == list(res["metrics"])
    # batch's stateful stream runs applyInPandasWithState in Python workers
    batch = runs[("batch", 1)]["metrics"]
    assert batch["pyworker.total_s"]["value"] > 0
    assert batch["pyworker.bytes_received"]["value"] > 0
    assert batch["state.batches"]["value"] > 0
