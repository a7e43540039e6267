#!/usr/bin/env python3
"""Records the expected output of every benchmark query on one tier.

    python3 benchmark/derive_expected.py <tier> [--timeout SECONDS]

For each query of the workloads on <tier> it runs the query's DuckDB oracle
(`SparkEntry.oracleSql`) over the tier's tables and records the row count
and the order-insensitive digest (benchlib.digest) in
benchmark/expected/<tier>.json. It also runs the program's own output check
once and prints, per query, whether Spark and the oracle agree. Where the
oracle does not finish within the timeout or fails, the program's output is
recorded instead and the entry says so; run this on a commit whose outputs
pass the repository's oracle gate.
"""

import argparse
import json
import os
import sys
import threading
import time

import duckdb

import benchlib
import run


def oracle(dir_, sql_by_name, timeout):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = %d" % run.cores())
    con.execute("SET memory_limit = '3GB'")
    for t in benchlib.BASE_ROWS:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet(%s)"
                    % (t, run.table_files(dir_, t)))
    out = {}
    for name, sql in sorted(sql_by_name.items()):
        timer = threading.Timer(timeout, con.interrupt)
        t0 = time.time()
        timer.start()
        try:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            rows, dig = benchlib.digest(names, iter(cur.fetchone, None))
            out[name] = {"rows": rows, "digest": dig}
        except Exception as e:  # a timeout surfaces as an interrupt error
            out[name] = {"error": "%s: %s" % (type(e).__name__, str(e)[:200])}
        finally:
            timer.cancel()
        print("oracle %-28s %6.1f s %s" % (name, time.time() - t0, out[name]), flush=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("tier", choices=sorted({w["tier"] for w in benchlib.WORKLOADS.values()}))
    ap.add_argument("--timeout", type=float, default=600)
    a = ap.parse_args()
    names = sorted({q for w in benchlib.WORKLOADS.values() if w["tier"] == a.tier
                    for q in w["queries"]})
    cp = run.build()
    dir_ = run.data(cp, a.tier)
    sql_file = os.path.join(run.WORK, "oracle-%s.json" % a.tier)
    rc, _ = run.java(cp, ["repobench.Main", "oracle", sql_file] + names, "oracle.log")
    if rc != 0:
        sys.exit("dumping the oracle SQL failed, see %s/oracle.log" % run.WORK)
    with open(sql_file) as f:
        expected = oracle(dir_, json.load(f), a.timeout)

    program = run.run_jvm(cp, dir_, {"sink": "noop"}, [names], 0, 0, 0,
                          "derive-%s.json" % a.tier)["check"]
    disagree = []
    for name in names:
        want, got = expected[name], program[name]
        if "error" in want:
            if "error" in got:
                sys.exit("%s: neither the oracle (%s) nor the program (%s) finished"
                         % (name, want["error"], got["error"]))
            expected[name] = dict(got, source="program output; oracle: " + want["error"])
            print("%-28s recorded from the program's output" % name)
        else:
            want["source"] = "oracle"
            same = "error" not in got and (got["rows"], got["digest"]) == (want["rows"], want["digest"])
            print("%-28s oracle %s program" % (name, "==" if same else "!="))
            if not same:
                disagree.append(name)
    with open(os.path.join(run.HERE, "expected", a.tier + ".json"), "w") as f:
        json.dump({"tier": a.tier, "queries": expected}, f, indent=1, sort_keys=True)
        f.write("\n")
    if disagree:
        sys.exit("program and oracle disagree on: " + ", ".join(disagree))


if __name__ == "__main__":
    main()
