#!/usr/bin/env python3
"""10x pin-stress gate, reproducibly (r16 verdict task 7).

Synthesizes the key-shifted composite the r15/r16 rounds built ad hoc
in /tmp — orders and events replicated COPIES times with the primary
key shifted by i*SHIFT per copy (every other table symlinked) — then
runs the full driver contract against it: graft.Verify writes every
query's result, oracle_check.py replays every oracle in DuckDB on the
same composite, and any mismatch is a future-scale fragility caught
today. The 10 identical-timestamp copies also make every as-of join a
10-way tie by construction, so tie-break pinning stays regression-
tested.

The shift (default 1e8, copies 0..9 -> max 9e8) is deliberately BELOW
the fixture ReKeyOffset (1e11, Dedup.ReKeyOffset): composite keys must
stay inside the "real key" range so the fixture re-key guards don't
fire; the 1e11 offset in turn stays above ANY composite key.

Usage:
  python3 tools/pinstress.py                    # full 231-query gate
  python3 tools/pinstress.py q1_agg,asof_join   # targeted
Env: PINSTRESS_SF (default /root/testdata/sf0.1),
     PINSTRESS_OUT (default /tmp/sf1ish),
     PINSTRESS_COPIES (default 10), PINSTRESS_SHIFT (default 10^8).

Exit 0 iff every checked query passes.
"""
import os
import subprocess
import sys

import duckdb

SF = os.environ.get("PINSTRESS_SF", "/root/testdata/sf0.1")
OUT = os.environ.get("PINSTRESS_OUT", "/tmp/sf1ish")
COPIES = int(os.environ.get("PINSTRESS_COPIES", "10"))
SHIFT = int(os.environ.get("PINSTRESS_SHIFT", str(10 ** 8)))
QUERIES = sys.argv[1] if len(sys.argv) > 1 else None
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMPOSITED = {
    # table -> its shifted primary-key column (all other columns ride
    # along verbatim, so identical (user, ts) rows become N-way ties).
    # Override with PINSTRESS_TABLES="orders=o_orderkey,events=event_id,
    # lineitem=l_orderkey" — shifting lineitem.l_orderkey in lockstep
    # with orders.o_orderkey keeps the FK consistent (the TPC-H trio
    # scaled 10x).
    "orders": "o_orderkey",
    "events": "event_id",
}
if os.environ.get("PINSTRESS_TABLES"):
    COMPOSITED = dict(
        kv.split("=") for kv in
        os.environ["PINSTRESS_TABLES"].split(",") if kv)


def build_composite():
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    for table in sorted(os.listdir(SF)):
        if not table.endswith(".parquet"):
            continue
        name = table[: -len(".parquet")]
        dst = os.path.join(OUT, table)
        src = os.path.join(SF, table)
        if os.path.lexists(dst):
            os.remove(dst)
        if name in COMPOSITED:
            key = COMPOSITED[name]
            cols = [r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
            sel = ", ".join(
                f"{c} + i * {SHIFT} AS {c}" if c == key else c
                for c in cols)
            con.execute(
                f"COPY (SELECT {sel} FROM '{src}' "
                f"CROSS JOIN (SELECT unnest(range({COPIES})) AS i)) "
                f"TO '{dst}' (FORMAT parquet)")
            n = con.execute(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
            print(f"[pinstress] {table}: composited x{COPIES} "
                  f"(shift {SHIFT} on {key}) -> {n} rows")
        else:
            os.symlink(src, dst)
            print(f"[pinstress] {table}: symlinked")


def main():
    build_composite()
    verify_out = os.path.join(OUT, "_verify_out")
    args = f"{OUT} {verify_out}" + (f" {QUERIES}" if QUERIES else "")
    print(f"[pinstress] running graft.Verify {args}")
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {args}"], cwd=REPO)
    if r.returncode != 0:
        print("[pinstress] graft.Verify FAILED")
        return 1
    print("[pinstress] running oracle_check")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "oracle_check.py"),
         OUT, verify_out],
        cwd=REPO, capture_output=True, text=True)
    # A CRASHED oracle (OOM, missing module) must read as a loud
    # failure, not an empty result set. oracle_check's own nonzero
    # exit on [MISSING]/[FAIL] counts is handled below — in targeted
    # mode the un-run queries' [MISSING] lines are expected — so
    # "crashed" means it died before printing its summary line.
    if not any(ln.startswith("== ") for ln in r.stdout.splitlines()):
        print(r.stdout[-2000:])
        print(r.stderr[-2000:])
        print("[pinstress] GATE FAILED: oracle_check crashed "
              f"(exit {r.returncode})")
        return 1
    all_lines = r.stdout.splitlines()
    wanted = set(QUERIES.split(",")) if QUERIES else None
    # Targeted runs: every query not asked for prints [MISSING] —
    # expected, ignore. Full runs: a [MISSING] means the query CRASHED
    # inside Verify — that is a gate failure, not noise.
    lines = [ln for ln in all_lines
             if wanted is None or "[MISSING]" not in ln]
    bad = [ln for ln in lines
           if ln.startswith(("[FAIL", "[MISSING]"))]
    for ln in lines:
        print(ln)
    if bad:
        print(f"[pinstress] GATE FAILED: {len(bad)} query(s) diverge "
              "at the composite")
        return 1
    oks = [ln for ln in lines if ln.startswith("[ok]")]
    # A query without an oracle prints [rows-only] — it completed, so
    # it counts toward the targeted total (else a rows-only target
    # would falsely trip the missing gate).
    done = [ln for ln in lines
            if ln.startswith(("[ok]", "[rows-only]"))]
    if wanted and len(done) < len(wanted):
        print("[pinstress] GATE FAILED: some targeted queries missing")
        return 1
    print(f"[pinstress] GATE PASSED: {len(oks)} queries exact at the "
          f"{COPIES}x composite"
          + (f" (+{len(done) - len(oks)} rows-only)"
             if len(done) > len(oks) else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
