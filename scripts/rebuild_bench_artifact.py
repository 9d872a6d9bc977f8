#!/usr/bin/env python3
"""Rebuild a graft.Bench full artifact from a run's saved stderr+stdout
logs. Needed when a later bench run overwrote an earlier (cleaner)
run's SPARK_GRAFT_BENCH_OUT file (default /tmp/graft-bench-full.json): every per-query min, run list, phase
split and sentinel pass is in the [bench] stderr lines, and the
sentinel verdict is recomputed HERE with the same rule Bench ships
(max pass / true-median pass > 1.3, or — ONLY on the reference config
recorded in the stdout meta (sf0.1, >=16 cpus) — floor breach > 1.3;
pass 0 excluded), so the reconstructed artifact carries the same trust
bit the live run would have stamped. Self-healing runs (r11) print a
"[bench] sentinel-merge" line after a section retry: the merged pass
replaces the two raw passes that produced it (breached + post-retry),
and the breached pass is kept in the `breaches` record — mirroring
what the live artifact stores. Re-run query lines keep the MIN across
attempts, matching the live merge rule. Failed queries (w=-1.000) are
preserved as sec:-1 rather than silently dropped. Provenance is
recorded in the JSON. Validation tooling only — not part of the
library.

Usage: rebuild_bench_artifact.py <stderr_log> <stdout_log> <out.json>
"""
import json
import re
import statistics
import sys

err, out, dst = sys.argv[1], sys.argv[2], sys.argv[3]

passes = []
breaches = []
queries = {}
for line in open(err):
    m = re.match(r"\[bench\] sentinel(-merge)? (.*)", line)
    if m and "=" in m.group(2):
        p = {}
        for kv in m.group(2).split():
            k, v = kv.rsplit("=", 1)
            p[k[:4]] = float(v)
        if m.group(1):  # merge line: replaces breached + post-retry
            post = passes.pop()
            breached = passes.pop()
            breaches.append({"pass": len(passes), "values": breached})
        passes.append(p)
        continue
    m = re.match(
        r"\[bench\] (\S+)\s+w=(-?[\d.]+) (.*?)(?: phases\{(.*)\})?$",
        line.strip())
    if m:
        name, w, runs_s, ph = (m.group(1), float(m.group(2)),
                               m.group(3), m.group(4))
        runs = [float(x.split("=")[1]) for x in runs_s.split()]
        sec = -1.0 if (w < 0 or any(r < 0 for r in runs)) \
            else round(min(runs), 3)
        entry = {"sec": sec}
        if ph:
            entry["phases"] = {k: float(v) for k, v in
                               (kv.split("=") for kv in ph.split(","))}
        if name in queries:  # section retry: min across attempts wins
            old = queries[name]["sec"]
            if not (sec >= 0 and (old < 0 or sec < old)):
                entry = queries[name]
        queries[name] = entry

# meta from the stdout JSON line
meta = json.loads([l for l in open(out) if l.startswith('{"metric"')][-1])

adj = passes[1:]
names = sorted({k for p in passes for k in p})
drift = 1.0
floor = {"q01_": 0.26, "tx02": 0.19}
# the floor is host-class-relative and only recorded for the reference
# config; gate exactly as Bench does (r10 ADVICE — unconditional
# application wrongly stamped non-reference runs dirty)
floor_applies = ("sf0.1" in meta.get("sf", "")
                 and meta.get("cpus", 0) >= 16)
floor_ratio = 0.0 if floor_applies else -1.0
for n in names:
    vs = sorted(p[n] for p in adj if p.get(n, 0) > 0)
    if len(vs) >= 2:
        drift = max(drift, vs[-1] / statistics.median(vs))
    if vs and floor_applies:
        floor_ratio = max(floor_ratio, vs[0] / floor[n])
dirty = drift > 1.3 or (floor_applies and floor_ratio > 1.3)

art = {
    "metric": "total", "value": meta["value"], "unit": "sec",
    "sf": meta["sf"], "runs_per_query": meta["runs_per_query"],
    "warmup_runs": 1, "agg": "min", "n_queries": meta["n_queries"],
    "provenance": f"rebuilt from run logs {err} + {out}; sentinel "
                  "verdict recomputed with the shipped max/median rule",
    "sentinel": {"passes": passes, "drift": round(drift, 3),
                 "floor_ratio": round(floor_ratio, 3), "dirty": dirty,
                 "underpowered": len(adj) < 3,
                 "retried_sections": len(breaches), "breaches": breaches},
    "queries": queries,
}
json.dump(art, open(dst, "w"))
print(f"wrote {dst}: total={meta['value']} n={len(queries)} "
      f"drift={drift:.3f} floor={floor_ratio:.3f} dirty={dirty}")
