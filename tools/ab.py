"""Interleaved A/B of registry queries under named variants.

A variant is a named list of overrides applied around every execution:
  conf:KEY=VALUE           Spark runtime conf, set and then restored (or unset)
  kw:MODULE.ATTR:KW=VALUE  rebind module global ATTR to a wrapper forcing
                           keyword KW (ast.literal_eval'd VALUE), which beats a
                           call-site keyword; restored even when a trial raises
``base`` (no overrides) is always present.  One untimed run per (variant,
query) hashes the collected rows with verify_oracle.table_hash; any variant
whose row count or hash differs from base makes the tool exit 1 after writing
its JSON.  Timed trials bill ``spark_fn(...).toPandas()`` as bench.py does
(construction included, same warm-up and housekeeping), rotating the variant
order every trial; min and median are reported per (variant, query).

  python tools/ab.py [--sf DIR] [--trials N] [--out FILE] [--explain DIR] \
      [--variant NAME=OVERRIDE[;OVERRIDE...]]... QUERY_OR_GLOB...
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import fnmatch
import functools
import importlib
import inspect
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from verify_oracle import table_hash  # noqa: E402
from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all  # noqa: E402
from acousticbrainz_server_spark.session import get_spark  # noqa: E402


def parse_override(text: str) -> tuple:
    """-> ("conf", KEY, VALUE) or ("kw", MODULE, ATTR, KW, value); ValueError otherwise."""
    kind, _, rest = text.partition(":")
    if kind == "conf":
        key, eq, value = rest.partition("=")
        if key and eq:
            return ("conf", key, value)
    elif kind == "kw":
        target, _, assign = rest.partition(":")
        module, _, attr = target.rpartition(".")
        kw, eq, literal = assign.partition("=")
        if module and attr and kw.isidentifier() and eq:
            try:
                value = ast.literal_eval(literal)
            except (ValueError, SyntaxError) as e:
                raise ValueError(f"{text!r}: VALUE is not a Python literal ({e})") from None
            fn = getattr(importlib.import_module(module), attr, None)
            if not callable(fn):
                raise ValueError(f"{text!r}: {module} has no callable global {attr}")
            param = inspect.signature(fn).parameters.get(kw)
            if param is None or param.kind is inspect.Parameter.POSITIONAL_ONLY:
                raise ValueError(f"{text!r}: {attr} takes no keyword {kw}")
            return ("kw", module, attr, kw, value)
    raise ValueError(f"{text!r}: expected conf:KEY=VALUE or kw:MODULE.ATTR:KW=VALUE")


def parse_variant(text: str) -> tuple[str, list[str], list[tuple]]:
    name, _, spec = text.partition("=")
    raw = [s for s in spec.split(";") if s]
    if not (name.isidentifier() and raw):
        raise argparse.ArgumentTypeError(f"{text!r}: expected NAME=OVERRIDE[;OVERRIDE...]")
    try:
        return name, raw, [parse_override(s) for s in raw]
    except (ValueError, ImportError) as e:
        raise argparse.ArgumentTypeError(str(e)) from None


def _forcing(fn, kw: str, value):
    """``fn`` with keyword ``kw`` forced to ``value``, however the caller passed it."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind_partial(*args, **kwargs)
        bound.arguments[kw] = value
        return fn(*bound.args, **bound.kwargs)

    return wrapper


@contextlib.contextmanager
def applied(spark, overrides: list[tuple]):
    """Apply a variant's overrides for the enclosed block; undo them on every exit."""
    undo = []
    try:
        for ov in overrides:
            if ov[0] == "conf":
                key, prev = ov[1], spark.conf.getAll.get(ov[1])
                undo.append(lambda k=key, p=prev: spark.conf.unset(k) if p is None else spark.conf.set(k, p))
                spark.conf.set(key, ov[2])
            else:
                mod, attr = importlib.import_module(ov[1]), ov[2]
                undo.append(functools.partial(setattr, mod, attr, getattr(mod, attr)))
                setattr(mod, attr, _forcing(getattr(mod, attr), ov[3], ov[4]))
        yield
    finally:
        for fn in reversed(undo):
            fn()


def housekeep(spark) -> None:
    """bench.py's between-query housekeeping."""
    spark.catalog.clearCache()
    for t in (t for t in spark.catalog.listTables() if t.isTemporary):
        spark.catalog.dropTempView(t.name)


def run(spark, sf: str, names: list[str], variants: dict[str, list[tuple]], trials: int, explain: str | None) -> dict:
    """Gate, then timed trials: {query: {variant: {rows, hash, equal, times, min, median}}}."""
    res: dict[str, dict[str, dict]] = {n: {} for n in names}
    for name in names:
        for v, overrides in variants.items():
            with applied(spark, overrides):
                df = QUERIES[name].spark_fn(spark, sf)
                rows, h = table_hash(df.columns, [tuple(r) for r in df.collect()])
            if explain:
                with open(os.path.join(explain, f"{name}.{v}.txt"), "w") as f:
                    f.write(df._jdf.queryExecution().executedPlan().toString())
            housekeep(spark)
            base = res[name].get("base", {"rows": rows, "hash": h})
            res[name][v] = {"rows": rows, "hash": h, "equal": (rows, h) == (base["rows"], base["hash"]), "times": []}
            print(f"gate {name} [{v}]: {rows} rows hash={h} equal={res[name][v]['equal']}", file=sys.stderr, flush=True)
    order = list(variants)
    for t in range(trials):
        for name in names:
            for v in order[t % len(order):] + order[: t % len(order)]:
                with applied(spark, variants[v]):
                    spark.sparkContext.setJobDescription(f"ab[{v}]:{name}")
                    t0 = time.perf_counter()
                    QUERIES[name].spark_fn(spark, sf).toPandas()
                    res[name][v]["times"].append(round(time.perf_counter() - t0, 3))
                housekeep(spark)
        print(f"trial {t}: " + ", ".join(f"{v}={sum(r[v]['times'][-1] for r in res.values()):.2f}s" for v in order),
              file=sys.stderr, flush=True)
    spark.sparkContext.setJobDescription(None)
    for r in (r for per in res.values() for r in per.values()):
        r["min"], r["median"] = min(r["times"]), round(statistics.median(r["times"]), 3)
    return res


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf_env, required=not sf_env, help="data dir (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--variant", type=parse_variant, action="append", default=[])
    ap.add_argument("--out", help="JSON output file (default: stdout)")
    ap.add_argument("--explain", metavar="DIR", help="write each (variant, query)'s final executed plan")
    ap.add_argument("queries", nargs="+", help="registered query names or fnmatch globs")
    args = ap.parse_args(argv)
    if args.trials < 1:
        ap.error(f"--trials must be >= 1, got {args.trials}")
    _load_all()
    unknown = [p for p in args.queries if not fnmatch.filter(QUERIES, p)]
    if unknown:
        ap.error(f"no registered query matches {unknown}")
    names = list(dict.fromkeys(n for p in args.queries for n in sorted(fnmatch.filter(QUERIES, p))))
    variants, raw = {"base": []}, {"base": []}
    for name, text, overrides in args.variant:
        if name in variants:
            ap.error(f"variant {name!r} given twice (base is implicit)")
        variants[name], raw[name] = overrides, text
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
    own, spark = spark is None, spark or get_spark("ab")
    loadavg_start = os.getloadavg()
    # bench.py's warm-up: prime FS cache/codegen and the Python worker pool
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers).repartition(n_workers).mapInPandas(lambda it: it, "id LONG").count()
    res = run(spark, args.sf, names, variants, args.trials, args.explain)
    head = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True, text=True).stdout.strip()
    out = {"git_head": head or None, "sf": args.sf, "cpus": n_workers, "trials": args.trials,
           "loadavg_start": [round(x, 2) for x in loadavg_start],
           "loadavg_end": [round(x, 2) for x in os.getloadavg()], "variants": raw,
           "total_min": {v: round(sum(res[n][v]["min"] for n in names), 3) for v in variants},
           "queries": res}
    with open(args.out, "w") if args.out else contextlib.nullcontext(sys.stdout) as f:
        f.write(json.dumps(out, indent=1) + "\n")
    if own:
        spark.stop()
    unequal = sorted({v for per in res.values() for v, r in per.items() if not r["equal"]})
    print(f"gate {f'FAILED: {unequal} differ from base' if unequal else 'ok'}", file=sys.stderr)
    return 1 if unequal else 0


if __name__ == "__main__":
    raise SystemExit(main())
