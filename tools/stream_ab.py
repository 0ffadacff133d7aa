"""Interleaved A/B of the stream-state partition count over the streaming family.

r12 verdict item 1: the 8 -> 4 stream-state-partition change was adopted from
a builder A/B but the driver's contended 32-core draw could not confirm it.
This tool settles it with same-session INTERLEAVED trials at local[32]: each
trial runs the full streaming family (every registered ``streaming_*`` query,
bench action = toPandas) under one setting, alternating settings trial by
trial so both settings sample the same measurement window distribution.  The
estimator is min-over-trials per query per setting (the box shows +-25-40%
window swings; a lone pair proves nothing).

Every query call site enters the job-scoped context manager
``_stream_state_partitions`` through its module global, so each trial rebinds
that global to the manager with ``n`` fixed to the trial's setting.

Writes STREAMAB.json:
    {"settings": [...], "trials": [...per-trial {setting, t_start, t_end,
      loadavg_start, loadavg_end, queries: {name: sec}, family_total}],
     "min_per_setting": {setting: {name: sec}},
     "family_min_total": {setting: sec},
     "winner": setting}

Usage: python tools/stream_ab.py [--settings 4,8] [--trials-per 3]
                                 [--sf DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from acousticbrainz_server_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--settings", default="4,8")
    ap.add_argument("--trials-per", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="STREAMAB.json")
    args = ap.parse_args()
    settings = [int(s) for s in args.settings.split(",")]

    _load_all()
    names = sorted(n for n in QUERIES if n.startswith("streaming_"))
    spark = get_spark("stream_ab")
    # same warm-up as bench.py
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers).repartition(n_workers).mapInPandas(lambda it: it, "id LONG").count()

    from acousticbrainz_server_spark.plans import streaming_queries as sq

    derived = sq._stream_state_partitions

    # interleave: A B A B A B ... so both settings sample the same windows
    order: list[int] = []
    for _ in range(args.trials_per):
        order.extend(settings)

    trials: list[dict] = []
    for setting in order:
        sq._stream_state_partitions = functools.partial(derived, n=setting)
        t_start = time.time()
        la0 = os.getloadavg()
        qtimes: dict[str, float] = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"stream_ab[{setting}]:{name}")
            t0 = time.time()
            QUERIES[name].spark_fn(spark, args.sf).toPandas()
            qtimes[name] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            for t in spark.catalog.listTables():
                if t.isTemporary:
                    spark.catalog.dropTempView(t.name)
        trials.append(
            {
                "setting": setting,
                "t_start": round(t_start, 1),
                "t_end": round(time.time(), 1),
                "loadavg_start": [round(x, 2) for x in la0],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "queries": qtimes,
                "family_total": round(sum(qtimes.values()), 3),
            }
        )
        print(
            f"trial setting={setting} total={trials[-1]['family_total']}s "
            f"loadavg={trials[-1]['loadavg_end']}",
            flush=True,
        )
    sq._stream_state_partitions = derived

    min_per: dict[str, dict[str, float]] = {}
    fam_min: dict[str, float] = {}
    for s in settings:
        mine = [t["queries"] for t in trials if t["setting"] == s]
        min_per[str(s)] = {n: round(min(q[n] for q in mine), 3) for n in names}
        fam_min[str(s)] = round(sum(min_per[str(s)].values()), 3)
    winner = min(fam_min, key=fam_min.get)
    out = {
        "method": "same-session interleaved trials at local[32]; estimator = "
        "min-over-trials per query per setting; family_min_total = sum of per-"
        "query mins (r12 verdict item 1)",
        "sf": args.sf,
        "settings": settings,
        "n_queries": len(names),
        "trials": trials,
        "min_per_setting": min_per,
        "family_min_total": fam_min,
        "winner": int(winner),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"family_min_total={fam_min} winner={winner} -> {args.out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
