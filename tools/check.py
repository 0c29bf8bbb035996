#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then compare each query's parquet against DuckDB executing the
declared oracle SQL over the same testdata tables.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [query...]
       python3 tools/check.py --seed N [--edge] [--sf F] [query...]

--seed N is the randomized-data gate (VERDICT r16 #1): it regenerates
sf0.001-scale tables (override with --sf) under seed N via tools/gen_testdata.py into
tmp/seeddata/seed<N>[e] and runs the full gate there — same engine,
same oracles, data the queries have never seen. --edge additionally
injects rare degenerate-but-legal shapes (1-token docs, duplicate
texts, a singleton language, empty orders). Results are appended to
SEEDGATE.jsonl (the CI-style record that the gate is green off the
default seed).
"""
import json, sys, subprocess, glob, os, datetime

args = sys.argv[1:]
# -h/--help or an unknown flag prints the usage and runs nothing: the
# token would otherwise be taken as the sf dir and fail all 340 queries
for k, a in enumerate(args):
    if a.startswith("-") and a not in ("--seed", "--sf", "--edge",
                                       "--skip-verify") and \
            (k == 0 or args[k - 1] not in ("--seed", "--sf")):
        print(__doc__)
        sys.exit(2)
seed = None
if "--seed" in args:
    i = args.index("--seed")
    seed = int(args[i + 1])
    args = args[:i] + args[i + 2:]
    edge = "--edge" in args
    if edge:
        args.remove("--edge")
    sf = "0.001"
    if "--sf" in args:
        j = args.index("--sf")
        sf = args[j + 1]
        args = args[:j] + args[j + 2:]
    # normalize spellings (0.0010, .001) so equivalent scales share one
    # tag / SEEDGATE record instead of diverging on the raw string;
    # integer-valued scales keep their integer spelling ('1', not
    # '1.0') so tags match previously recorded runs, and a non-numeric
    # value fails with a clear message instead of a traceback
    try:
        sf = repr(float(sf))
    except ValueError:
        print(f"--sf must be numeric, got {sf!r}"); sys.exit(2)
    if sf.endswith(".0"):
        sf = sf[:-2]
    tag = f"seed{seed}{'e' if edge else ''}" +         (f"_sf{sf}" if sf != "0.001" else "")
    sfdir = f"/root/repo/tmp/seeddata/{tag}"
    outdir = f"/tmp/verify_{tag}"
    gen = subprocess.run(
        [sys.executable, "tools/gen_testdata.py", sfdir,
         "--seed", str(seed), "--sf", sf] + (["--edge"] if edge else []),
        cwd="/root/repo")
    if gen.returncode != 0:
        print("GENERATOR FAILED"); sys.exit(1)
    flags = [a for a in args if a.startswith("--")]
    only = [a for a in args if not a.startswith("--")]
else:
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    flags = [a for a in args[2:] if a.startswith("--")]
    only = [a for a in args[2:] if not a.startswith("--")]

if "--skip-verify" not in flags:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {sfdir} {outdir}'],
        capture_output=True, text=True, cwd="/root/repo")
    sys.stdout.write("\n".join(
        l for l in (r.stdout + r.stderr).splitlines()
        if "[verify]" in l or "error" in l.lower()[:40]) + "\n")
    if r.returncode != 0:
        print("VERIFY RUN FAILED"); sys.exit(1)

import duckdb
import pandas as pd

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = []
names = only or sorted(oracle.keys())
for name in names:
    pq = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not pq:
        print(f"{name:32s} MISSING spark output"); fails.append(name); continue
    got = pd.read_parquet(f"{outdir}/{name}")
    if name not in oracle:
        print(f"{name:32s} rows-only: {len(got)} rows")
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name:32s} ORACLE SQL ERROR: {e}"); fails.append(name); continue
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        print(f"{name:32s} COLS  spark={list(g.columns)} oracle={list(e.columns)}")
        fails.append(name); continue
    if len(g) != len(e):
        print(f"{name:32s} ROWS  spark={len(g)} oracle={len(e)}")
        fails.append(name); continue
    # dtype-tolerant value compare, exact
    bad = None
    for c in g.columns:
        gv, ev = g[c], e[c]
        try:
            if str(gv.dtype).startswith("datetime") or str(ev.dtype).startswith("datetime"):
                gv = pd.to_datetime(gv).dt.tz_localize(None) if getattr(gv.dtype, "tz", None) else pd.to_datetime(gv)
                ev = pd.to_datetime(ev).dt.tz_localize(None) if getattr(ev.dtype, "tz", None) else pd.to_datetime(ev)
            eq = (gv.isna() & ev.isna()) | (gv == ev)
            if not eq.all():
                i = (~eq).idxmax()
                bad = (c, gv[i], ev[i], int((~eq).sum())); break
        except Exception as ex:
            bad = (c, "cmp-error", str(ex), -1); break
    if bad:
        c, gv, ev, n = bad
        print(f"{name:32s} VALS  col={c} spark={gv!r} oracle={ev!r} nbad={n}")
        fails.append(name)
    else:
        # schema dtype check (warn only)
        dt = [(c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns
              if str(g[c].dtype) != str(e[c].dtype)]
        note = f" dtypes~{dt}" if dt else ""
        print(f"{name:32s} OK ({len(g)} rows){note}")

print(f"\n{len(names)-len(fails)}/{len(names)} pass")
if seed is not None and not only:
    rec = {"ts": datetime.datetime.now(datetime.timezone.utc)
           .isoformat(timespec="seconds"),
           "seed": seed, "edge": "--edge" in sys.argv, "sf": sf,
           "sfdir": sfdir,
           "pass": len(names) - len(fails), "total": len(names),
           "fails": sorted(fails)}
    with open("/root/repo/SEEDGATE.jsonl", "a") as f:
        f.write(json.dumps(rec) + "\n")
sys.exit(1 if fails else 0)
