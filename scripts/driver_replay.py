"""Replay the verification driver's contract check locally.

Usage:
    python scripts/driver_replay.py            # all queries at sf0.01
    python scripts/driver_replay.py A1 J       # only names with these prefixes
    python scripts/driver_replay.py --window   # exactly the DRIVER_PRIORITY 50
    SF_DIR=/root/testdata/sf0.001 python scripts/driver_replay.py

Builds a BARE SparkSession (like the driver would), imports
``__spark_entry__`` and compares every query with an oracle against DuckDB:
row count + sorted schema names + order-insensitive value compare.
"""

from __future__ import annotations

import argparse
import datetime
import os
import sys
import time

# Pin the PROCESS timezone to UTC before the JVM spawns: PySpark's
# collect() renders TimestampType (LTZ) instants as naive datetimes in
# the OS timezone, while the DuckDB oracle's TIMESTAMP (NTZ) values are
# naive UTC wall times. Under a UTC host this is an identity; under any
# other TZ every timestamp column shifts by the UTC offset and the
# compare fails spuriously (verified: TZ=Asia/Tokyo shifted O2/S17 by
# +09:00). Queries already pin the SESSION timezone (registry.register)
# — this pins the rendering boundary the session conf cannot reach.
os.environ["TZ"] = "UTC"
time.tzset()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod
from test_dataengineer2026_spark import tables

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse CLI args; kept Spark-free so ``--help`` never boots a JVM.

    Round-8 verdict flagged that unknown flags used to be treated as
    name prefixes, so ``--help`` selected 0 queries and printed a
    vacuous "RESULT: ALL MATCH". argparse rejects unknown flags, and
    main() now fails loudly on an empty selection.
    """
    ap = argparse.ArgumentParser(
        description="Replay the verification driver's contract check locally.",
        epilog="SF_DIR=/root/testdata/sf0.001 overrides the data directory.",
    )
    ap.add_argument(
        "prefixes",
        nargs="*",
        help="only run queries whose name starts with one of these (e.g. A1 J)",
    )
    ap.add_argument(
        "--window",
        action="store_true",
        help="replay exactly the DRIVER_PRIORITY 50 the driver verifies this round",
    )
    ap.add_argument(
        "--shard",
        metavar="i/N",
        default=None,
        help="run the i-th (1-based) of N equal registry slices; "
        "a full 231-query replay overruns the 600 s sandbox cap, so "
        "round 8+ runs: for i in 1..8: driver_replay.py --shard $i/8",
    )
    args = ap.parse_args(argv)
    if args.shard is not None:
        try:
            i, n_shards = (int(x) for x in args.shard.split("/"))
        except ValueError:
            ap.error(f"--shard expects i/N (got {args.shard!r})")
        if n_shards < 1 or not 1 <= i <= n_shards:
            ap.error(f"--shard requires 1 <= i <= N (got {i}/{n_shards})")
        args.shard = (i, n_shards)
    return args


def norm(v):
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def main() -> int:
    args = parse_args()
    prefixes = tuple(args.prefixes)
    if args.window:
        # replay exactly what the driver will verify this round
        from test_dataengineer2026_spark.queries import DRIVER_PRIORITY

        prefixes = prefixes + tuple(DRIVER_PRIORITY)
    shard = args.shard
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 8)}]")
        .appName("driver-replay")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Robustness-probe knob: REPLAY_EXTRA_CONFS="k=v;k=v" perturbs the
    # session (e.g. spark.sql.codegen.wholeStage=false to replay the
    # whole registry on the interpreted path). Confs that every registered
    # query pins through registry.register's apply_runtime_confs
    # (timezone, AQE, ANSI) win over this knob by design — those are
    # part of the queries' contract.
    for kv in filter(None, os.environ.get("REPLAY_EXTRA_CONFS", "").split(";")):
        if "=" not in kv:
            raise SystemExit(
                f"REPLAY_EXTRA_CONFS entry {kv!r} has no '='; "
                "expected 'key=value;key=value'"
            )
        k, v = kv.split("=", 1)
        spark.conf.set(k.strip(), v.strip())
        print(f"extra conf: {k.strip()}={v.strip()}")

    df = entry_mod.entry(spark)
    n = len(df.collect())
    print(f"entry(): {n} rows, schema={[f.name for f in df.schema.fields]}")
    # Runtime verification gates, not debug checks: raise so `python -O`
    # cannot strip them and let an empty replay report success.
    if n <= 0:
        raise RuntimeError(f"entry() returned {n} rows; expected > 0")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if not set(oracles) <= set(qs):
        raise RuntimeError(
            f"oracle keys must be a subset of query keys; extras: "
            f"{sorted(set(oracles) - set(qs))}"
        )
    print(f"{len(qs)} queries, {len(oracles)} with oracles")

    con = duckdb.connect()
    for t in tables.TABLES:
        # Layout-aware view (file / multi-file dir / hive-partitioned dir)
        # via the shared helper in tables.py — single implementation for
        # this script and tests/conftest.py (r12 advisor finding).
        con.execute(tables.duck_view_sql(t, SF_DIR))

    names = [n for n in sorted(qs) if not prefixes or n.startswith(prefixes)]
    if shard:
        i, n_shards = shard
        per = -(-len(names) // n_shards)  # ceil division
        names = names[(i - 1) * per : i * per]
        print(f"shard {i}/{n_shards}: {len(names)} queries")
    if not names:
        # an empty selection must never read as a pass (r8 verdict #1)
        print("RESULT: NO QUERIES SELECTED (bad prefix or empty shard)")
        return 2

    fails = []
    for name in names:
        try:
            d = qs[name](spark, SF_DIR)
            sp_cols = sorted(d.columns)
            sp = sorted(
                (tuple(norm(r[c]) for c in sp_cols) for r in d.collect()), key=str
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            fails.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only, {len(sp)} rows")
            continue
        try:
            # the real driver hashes TYPED values, and this replay
            # compares Python objects — blind to the HUGEINT class of
            # mismatch (the r4 SQL17 incident) unless typing is linted
            # here too, mirroring tests/test_oracle_types.py (the
            # DB-API description reports only generic NUMBER, so the
            # relation's .types is the reliable source)
            rel = con.sql(oracles[name])
            bad_types = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()
            ]
            res = con.execute(oracles[name])
            oracle_cols = [x[0] for x in res.description]
            order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
            dk_cols = [oracle_cols[i] for i in order]
            dk = sorted(
                (tuple(norm(row[i]) for i in order) for row in res.fetchall()), key=str
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            fails.append(name)
            continue
        if bad_types:
            print(f"{name}: ORACLE TYPE LINT hugeint columns {bad_types}")
            fails.append(name)
            continue
        ok = sp_cols == dk_cols and sp == dk
        print(f"{name}: {'MATCH' if ok else 'MISMATCH'} ({len(sp)} rows)")
        if not ok:
            fails.append(name)
            if sp_cols != dk_cols:
                print(f"  cols: spark={sp_cols} duck={dk_cols}")
            elif len(sp) != len(dk):
                print(f"  rows: spark={len(sp)} duck={len(dk)}")
            else:
                for a, b in zip(sp, dk):
                    if a != b:
                        print(f"  first diff:\n    spark={a}\n    duck ={b}")
                        break
    print("RESULT:", "ALL MATCH" if not fails else f"FAILS={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
