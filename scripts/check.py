#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle_sql.json entry in DuckDB over the same
parquet tables and compare rows/schema/hash. Usage:
    python3 scripts/check.py [sfdir] [outdir] [--skip-verify]
"""
import json, subprocess, sys, hashlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # the checkout this script is in
sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-verify")
if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
        cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    for line in r.stdout.splitlines():
        if "[verify]" in line:
            print(line)

import duckdb, pyarrow.parquet as pq
import pyarrow as pa

con = duckdb.connect()
for t in Path(sfdir).glob("*.parquet"):
    con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM parquet_scan('{t}')")

oracle = json.loads((outdir / "oracle_sql.json").read_text())
# Ledger loaded up front so the NO_ORACLE branch can still apply the
# bench-presence gate: an entry whose oracle failed to generate must
# not silently bypass BOTH checks (ADVICE r16).
ledger_path = Path(__file__).parent / "bench_ledger.json"
ledger = (set(json.loads(ledger_path.read_text()))
          if ledger_path.exists() else set())
fails = []
for name in sorted(p.name for p in outdir.iterdir() if p.is_dir()):
    spark_tbl = pq.read_table(str(outdir / name))
    if name not in oracle:
        if name not in ledger:
            fails.append(name)
            print(f"{name}: NO_ORACLE_AND_UNMEASURED rows={spark_tbl.num_rows}")
        else:
            print(f"{name}: NO_ORACLE rows={spark_tbl.num_rows}")
        continue
    try:
        duck_tbl = con.execute(oracle[name]).fetch_arrow_table()
    except Exception as e:
        fails.append(name); print(f"{name}: ORACLE_ERR {e}"); continue

    # Driver-strictness mirror (VERDICT r11 task 8): the driver's
    # comparator grants no type latitude — pandas sort_values crashes
    # on list cells, and a DuckDB HUGEINT (decimal128) never hash-equals
    # a Spark int64. Fail here on anything the driver would fail on,
    # BEFORE the lenient value compare.
    def type_hazards(tbl, side):
        out = []
        for field in tbl.schema:
            t = field.type
            if (pa.types.is_decimal(t) or pa.types.is_list(t)
                    or pa.types.is_large_list(t) or pa.types.is_struct(t)
                    or pa.types.is_map(t)):
                out.append(f"{side}.{field.name}:{t}")
        return out

    def kind(t):
        if pa.types.is_integer(t): return "int"
        if pa.types.is_floating(t): return "float"
        if pa.types.is_decimal(t): return "decimal"
        if pa.types.is_string(t) or pa.types.is_large_string(t): return "str"
        if pa.types.is_boolean(t): return "bool"
        return str(t)

    hazards = type_hazards(spark_tbl, "spark") + type_hazards(duck_tbl, "duck")
    common = set(spark_tbl.column_names) & set(duck_tbl.column_names)
    for c in sorted(common):
        ks = kind(spark_tbl.schema.field(c).type)
        kd = kind(duck_tbl.schema.field(c).type)
        if ks != kd:
            hazards.append(f"kind({c}): spark={ks} duck={kd}")
    if hazards:
        fails.append(name)
        print(f"{name}: TYPE_HAZARD {hazards}  <- driver comparator "
              "would crash or hash-mismatch here")
        continue

    def canon(tbl):
        cols = sorted(tbl.column_names)
        tbl = tbl.select(cols)
        rows = []
        for row in zip(*[tbl.column(c).to_pylist() for c in cols]):
            rows.append(tuple(round(v, 6) if isinstance(v, float) else
                              (str(v) if v is not None else None) for v in row))
        return sorted(rows, key=lambda r: str(r))

    s, d = canon(spark_tbl), canon(duck_tbl)
    ok_rows = len(s) == len(d)
    ok_schema = sorted(spark_tbl.column_names) == sorted(duck_tbl.column_names)
    ok_hash = s == d
    status = "OK" if (ok_rows and ok_schema and ok_hash) else "FAIL"
    if status == "FAIL":
        fails.append(name)
        print(f"{name}: FAIL rows={len(s)}/{len(d)} schema={ok_schema} "
              f"cols={sorted(spark_tbl.column_names)}|{sorted(duck_tbl.column_names)}")
        if ok_rows and ok_schema:
            diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
            print("  first diffs:", diff)
    else:
        print(f"{name}: OK rows={len(s)}")
# Bench-budget commit gate (r15 policy): every gate query must carry a
# recorded sf0.1 bench reading in scripts/bench_ledger.json — an entry
# shipped un-benched is how r14's q125 (91.9 s, 32% of the bench)
# landed. Presence is the gate; overruns are the bench facet's job.
if ledger_path.exists():
    # intersect with the CURRENT query set — oracle keys ∪ ledger keys —
    # (oracle_sql.json is rewritten by every Verify run) so a stale
    # outdir left by a renamed/removed gate entry doesn't fail as
    # "unmeasured", while an entry whose oracle FAILED to generate
    # (NO_ORACLE) still hits the ledger check instead of silently
    # bypassing both gates; GateLintSpec separately enforces
    # ledger == SparkEntry.entries 1:1 at sbt-test time
    ran = (set(p.name for p in outdir.iterdir() if p.is_dir())
           & (set(oracle) | ledger))
    unmeasured = sorted(ran - ledger)
    if unmeasured:
        fails.extend(unmeasured)
        print(f"UNMEASURED (no sf0.1 reading in bench_ledger.json): "
              f"{unmeasured}")
    # Staleness WARN (not a fail): readings older than the last commit
    # touching src/main/scala price the PREVIOUS round's code — the
    # r16 postmortem found 4 phantom "regressions" from exactly this.
    # Compared against the whole source tree, not SparkEntry.scala
    # alone (ADVICE r17: most perf-relevant changes land in llm/).
    def last_commit(path):
        r = subprocess.run(["git", "log", "-1", "--format=%ct", "--", path],
                           cwd=ROOT, capture_output=True, text=True)
        return int(r.stdout.strip() or 0)
    if last_commit("src/main/scala") > last_commit("scripts/bench_ledger.json"):
        print("WARN: bench_ledger.json predates the last commit touching "
              "src/main/scala — refresh readings from a clean sf0.1 bench")

    # Epoch-normalized perf-regression gate (★r18, VERDICT r17 #2):
    # two same-code A/B benches measured GLOBAL ±13-16% machine-epoch
    # shifts, so raw median-vs-ledger comparison either flags phantom
    # regressions (+13% epoch) or masks real ones (-13% epoch hiding a
    # 1.3x). Automate the STATUS-prose convention: divide each entry's
    # median by the run's total-ratio (sum over common keys) before the
    # 1.3x (>=2 s entries) / 1.4x (sub-2 s wobble class) comparisons;
    # the min-floor check stays ABSOLUTE (a real regression moves the
    # minimum; ambient contention only moves the median). An entry
    # FAILS only when BOTH the normalized median and the absolute min
    # floor trip — either alone is a WARN.
    latest_path = ROOT / "target" / "bench-latest.json"
    mins_ledger_path = Path(__file__).parent / "bench_ledger_mins.json"
    ledger_map = json.loads(ledger_path.read_text())
    latest = (json.loads(latest_path.read_text())
              if latest_path.exists() else {})
    # ★r22 (ADVICE r21): the embedded adjudication is current iff the
    # bench recorded the CONTENT fingerprint of the ledger it compared
    # against and that ledger is byte-identical now — mtimes are
    # rewritten arbitrarily by git checkouts/rebases and can both
    # misclassify and falsely accept a reverted ledger. Outputs
    # predating the fingerprint (or a ledger edited since the run)
    # fall through to the legacy recomputation below.
    import hashlib
    ledger_fp = hashlib.sha256(ledger_path.read_bytes()).hexdigest()[:16]
    if latest and isinstance(ledger_map, dict) and \
            latest.get("epoch_ratio", -1) > 0 and \
            latest.get("ledger_fingerprint") == ledger_fp:
        # ★r21 (VERDICT r20 #6): the bench SELF-adjudicates — it
        # emits epoch_ratio + per-entry perf_flags (normalized median,
        # min floor, cpu_ratio evidence) computed against the committed
        # ledger at run time. Consume instead of recomputing.
        print(f"bench epoch ratio (self-adjudicated): "
              f"{latest['epoch_ratio']:.3f}")
        flags = latest.get("perf_flags", {})
        for k in sorted(flags):
            f = flags[k]
            ev = (f"median {f['ledger']:.2f}->{f['median']:.2f} "
                  f"(norm {f['norm']:.2f}), min {f['min_ledger']:.2f}->"
                  f"{f['min']:.2f}, cpu_ratio {f['cpu_ratio']:.2f}, "
                  f"gc {f['gc']:.1f}s")
            if f.get("level") == 2:
                fails.append(k)
                print(f"{k}: PERF_REGRESSION {ev}")
            else:
                which = "median(norm)" if f.get("med_trip") else "min-floor"
                print(f"WARN {k}: {which} tripped ({ev}) — not failing "
                      "without the other signal")
        min_trips = [k for k in flags if flags[k].get("min_trip")]
        if len(min_trips) >= 5:
            fails.append(f"SYSTEMIC_MIN_FLOOR({len(min_trips)})")
            print(f"SYSTEMIC min-floor regression: {len(min_trips)} "
                  f"entries' floors over threshold at once: {min_trips}")
    elif latest and isinstance(ledger_map, dict):
        cur = latest.get("queries", {})
        cur_mins = latest.get("query_mins", {})
        cur_cpu = latest.get("queries_cpu", {})
        cur_gc = latest.get("queries_gc", {})
        old_mins = (json.loads(mins_ledger_path.read_text())
                    if mins_ledger_path.exists() else {})
        # soaks excluded from the epoch ESTIMATE (★r19, ADVICE r18):
        # a sum-based epoch was dominated by the ~100 s soak rungs, so
        # a regression in a dominant entry inflated the epoch and
        # partially masked itself. Median of per-entry ratios is robust
        # to any single regressed entry by construction.
        soaks = set(latest.get("soak_entries", {})) or {
            "forget_rewrite_10240obj", "forget_rewrite_40960obj"}
        common = [k for k in cur if k in ledger_map
                  and cur[k] > 0 and ledger_map[k] > 0]
        epoch_keys = [k for k in common if k not in soaks]
        if epoch_keys:
            ratios = sorted(cur[k] / ledger_map[k] for k in epoch_keys)
            epoch = ratios[len(ratios) // 2]
            print(f"bench epoch ratio (median of per-entry latest/ledger "
                  f"over {len(epoch_keys)} non-soak entries): {epoch:.3f}")

            cpu_ledger_path = Path(__file__).parent / "bench_ledger_cpu.json"
            ledger_cpu = (json.loads(cpu_ledger_path.read_text())
                          if cpu_ledger_path.exists() else {})

            def cpu_note(k):
                if k not in cur_cpu or cur[k] <= 0:
                    return ""
                r = cur_cpu[k] / cur[k]
                g = f", gc {cur_gc[k]:.1f}s" if k in cur_gc else ""
                # work-vs-work: process-CPU measures computation done,
                # immune to machine-epoch — cpu_ratio >> 1 is a real
                # change in work even on a slower machine (★r19)
                w = (f", cpu_ratio {cur_cpu[k] / ledger_cpu[k]:.2f}"
                     if ledger_cpu.get(k, 0) > 0 else "")
                return f" [cpu/wall {r:.1f}{g}{w}]"

            min_trips = []
            for k in sorted(common):
                led = ledger_map[k]
                norm = cur[k] / epoch
                thresh = 1.4 if led < 2.0 else 1.3
                med_trip = norm > led * thresh
                # absolute min-floor: only meaningful when both runs
                # recorded a min; sub-noise deltas (<0.5 s) never trip
                min_trip = (k in cur_mins and k in old_mins
                            and cur_mins[k] > old_mins[k] * thresh
                            and cur_mins[k] - old_mins[k] > 0.5)
                if min_trip:
                    min_trips.append(k)
                if med_trip and min_trip:
                    fails.append(k)
                    print(f"{k}: PERF_REGRESSION median {led:.2f}->"
                          f"{cur[k]:.2f} (norm {norm:.2f}, >{thresh}x) AND "
                          f"min {old_mins[k]:.2f}->{cur_mins[k]:.2f}"
                          + cpu_note(k))
                elif med_trip or min_trip:
                    which = "median(norm)" if med_trip else "min-floor"
                    print(f"WARN {k}: {which} over {thresh}x "
                          f"(median {led:.2f}->{cur[k]:.2f} norm {norm:.2f}"
                          + (f", min {old_mins[k]:.2f}->{cur_mins[k]:.2f}"
                             if k in cur_mins and k in old_mins else "")
                          + f"){cpu_note(k)}"
                          + " — not failing without the other signal")
            # systemic check (★r19, ADVICE r18): a uniform shared-code
            # regression moves MANY min-floors at once while the
            # normalized medians stay clean (the epoch normalization
            # absorbs it) — the one shape the per-entry AND-rule can
            # never fail. Five simultaneous floor trips is far outside
            # ambient-contention behavior (contention moves medians,
            # not minimums).
            if len(min_trips) >= 5:
                fails.append(f"SYSTEMIC_MIN_FLOOR({len(min_trips)})")
                print(f"SYSTEMIC min-floor regression: {len(min_trips)} "
                      f"entries' floors over threshold at once: "
                      f"{min_trips}")
else:
    fails.append("bench_ledger.json")
    print("MISSING scripts/bench_ledger.json — record sf0.1 per-entry "
          "seconds before shipping gate rows")

print("FAILS:", fails if fails else "none")
sys.exit(1 if fails else 0)
