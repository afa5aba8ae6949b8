#!/usr/bin/env python3
"""Pin the result fingerprints the benchmark checks against.

    python3 benchmark/pin.py

Run it from the root of a checkout whose results are known good. It runs
the first (checking) pass of the queries workload, records
each op's row count and digest in benchmark/expected.json, and
cross-checks every op that has DuckDB oracle SQL in the engine's
registry by computing the same digest from DuckDB over the same
generated tables. It exits non-zero if any oracle disagrees.
table_commits needs no pins: its reads are checked against a model of
the op script.
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import sys
import time

import duckdb

import datagen
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)


def num(d):
    if d == 0:
        return "0"
    return format(CTX.plus(d).normalize(), "f")


def render(v):
    """Same canonical cell text as bench.Main.render."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Infinity" if v > 0 else "-Infinity"
        return num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return num(v)
    if isinstance(v, datetime.datetime):
        # java.time.Instant.toString: seconds always, fraction in groups of 3.
        s = v.strftime("%Y-%m-%dT%H:%M:%S")
        if v.microsecond:
            s += ".%03d" % (v.microsecond // 1000) if v.microsecond % 1000 == 0 \
                else ".%06d" % v.microsecond
        return s + "Z"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def digest(rows):
    lines = sorted("|".join(render(c) for c in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() + b"\n")
    return len(lines), h.hexdigest()[:16]


def main():
    home = run.spark_home()
    run.build(home)
    pinned, bad = {}, []
    for workload in ("queries",):
        work = os.path.join(run.BUILD, f"pin-{os.getpid()}-{workload}")
        os.makedirs(work)
        try:
            data = os.path.join(work, "data")
            datagen.write(data, run.SCALE, run.DATA_SEED)
            res = run.run_jvm(home, {
                "workload": workload, "seed": 0, "seconds": 0, "trace": 0,
                "work": work, "data": data, "datagen_s": 0,
                "expected": "", "pin": 1,
                "out": os.path.join(work, "result.json"),
                "t0": int(time.time() * 1000)}, work,
                time.time() + run.DEADLINE_S)
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{data}/{t}.parquet'")
            for name, p in res["pinned"].items():
                entry = {"rows": p["rows"], "sha": p["sha"], "oracle": "none"}
                if p["oracle"]:
                    got = digest(con.execute(p["oracle"]).fetchall())
                    entry["oracle"] = "match" if list(got) == [p["rows"], p["sha"]] \
                        else "mismatch"
                    if entry["oracle"] == "mismatch":
                        bad.append(f"{name}: spark {p['rows']}/{p['sha']}, "
                                   f"duckdb {got[0]}/{got[1]}")
                pinned[name] = entry
                print(f"{name}: {entry}", file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.BENCH, "expected.json"), "w") as f:
        json.dump(dict(sorted(pinned.items())), f, indent=1)
        f.write("\n")
    for b in bad:
        print(f"oracle mismatch: {b}", file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
