"""tools/ab.py: variant overrides, the equality gate, the output schema, and
loud rejection of bad input."""

from __future__ import annotations

import importlib.util
import json

import pytest

from conftest import REPO_ROOT, SF_SMOKE

SQ = "acousticbrainz_server_spark.plans.streaming_queries"
SH = "acousticbrainz_server_spark.dedup.simhash"


@pytest.fixture(scope="module")
def ab():
    spec = importlib.util.spec_from_file_location("ab", REPO_ROOT / "tools" / "ab.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_conf_and_kw_variants_pass_gate(ab, spark, tmp_path):
    from acousticbrainz_server_spark.plans import streaming_queries as sq

    orig = sq._stream_state_partitions
    keys = ("spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.shuffle.partitions",
            "spark.abspark.ab_test_key")
    confs = {k: spark.conf.getAll.get(k) for k in keys}
    assert confs[keys[2]] is None  # unset: must come back unset, not as a value
    out, plans = tmp_path / "ab.json", tmp_path / "plans"
    conf_ov = "conf:spark.sql.adaptive.coalescePartitions.enabled=false"
    kw_ov = f"kw:{SQ}._stream_state_partitions:n=2"
    argv = ["--sf", SF_SMOKE, "--trials", "2", "--out", str(out), "--explain", str(plans),
            "--variant", f"c={conf_ov}", "--variant", f"k={kw_ov}", "streaming_daily_*"]
    assert ab.main(argv, spark=spark) == 0

    rep = json.loads(out.read_text())
    assert {"git_head", "sf", "loadavg_start", "loadavg_end", "variants", "queries"} <= set(rep)
    assert rep["sf"] == SF_SMOKE and len(rep["loadavg_start"]) == len(rep["loadavg_end"]) == 3
    assert rep["variants"] == {"base": [], "c": [conf_ov], "k": [kw_ov]}
    per = rep["queries"]["streaming_daily_counts"]
    assert set(per) == {"base", "c", "k"}
    for v, r in per.items():
        assert {"hash", "equal", "times", "min", "median"} <= set(r)
        assert r["equal"] and r["hash"] == per["base"]["hash"] and r["rows"] > 0
        assert len(r["times"]) == 2 and r["min"] == min(r["times"]) <= r["median"]
        assert "n_events" in (plans / f"streaming_daily_counts.{v}.txt").read_text()
    # every override is undone: the patched global and the session confs
    assert sq._stream_state_partitions is orig
    assert {k: spark.conf.getAll.get(k) for k in keys} == confs

    # the forced keyword beats the call site's; undone even when the block raises
    overrides = [ab.parse_override(kw_ov), ab.parse_override("conf:spark.abspark.ab_test_key=1m")]
    with pytest.raises(RuntimeError):
        with ab.applied(spark, overrides):
            with sq._stream_state_partitions(spark, n=7) as n:
                assert n == 2
            assert spark.conf.get("spark.abspark.ab_test_key") == "1m"
            raise RuntimeError("trial failed")
    assert sq._stream_state_partitions is orig
    assert {k: spark.conf.getAll.get(k) for k in keys} == confs


def test_ab_gate_fails_when_variant_changes_rows(ab, spark, tmp_path):
    # the registered query passes max_hamming=3 at its call site; the
    # variant's forced 0 must win and drop every pair with hamming 1..3
    out = tmp_path / "ab.json"
    argv = ["--sf", SF_SMOKE, "--trials", "1", "--out", str(out),
            "--variant", f"h0=kw:{SH}.simhash_neardup_pairs:max_hamming=0", "simhash_neardup"]
    assert ab.main(argv, spark=spark) == 1
    per = json.loads(out.read_text())["queries"]["simhash_neardup"]
    assert per["base"]["equal"] and not per["h0"]["equal"]
    assert 0 < per["h0"]["rows"] < per["base"]["rows"]


@pytest.mark.parametrize(
    "argv",
    [
        ["--variant", "x", "simhash_neardup"],
        ["--variant", "x=", "simhash_neardup"],
        ["--variant", "x=env:SPARK_GRAFT_CPUS=2", "simhash_neardup"],
        ["--variant", "x=conf:spark.sql.shuffle.partitions", "simhash_neardup"],
        ["--variant", "x=kw:simhash_neardup_pairs:max_hamming=0", "simhash_neardup"],
        ["--variant", f"x=kw:{SH}.simhash_neardup_pairs:max_hamming=three", "simhash_neardup"],
        ["--variant", f"x=kw:{SH}.simhash_neardup_pairs:no_such_kw=0", "simhash_neardup"],
        ["--variant", "x=kw:acousticbrainz_server_spark.no_such_module.f:n=1", "simhash_neardup"],
        # a name the query module imports locally is no module global there
        ["--variant", "x=kw:acousticbrainz_server_spark.plans.dedup_queries.simhash_neardup_pairs:max_hamming=0",
         "simhash_neardup"],
        ["--variant", "base=conf:spark.sql.shuffle.partitions=2", "simhash_neardup"],
        ["--variant", "a=conf:x=1", "--variant", "a=conf:x=2", "simhash_neardup"],
        ["no_such_query"],
        ["--trials", "0", "simhash_neardup"],
        [],
    ],
)
def test_ab_rejects_bad_input(ab, spark, argv, capsys):
    with pytest.raises(SystemExit) as e:
        ab.main(["--sf", SF_SMOKE, *argv], spark=spark)
    assert e.value.code == 2
    assert "error:" in capsys.readouterr().err
