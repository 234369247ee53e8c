#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check_correctness.py [sfDir] [outDir] [--skip-verify]
                                          [--bench=path/to/bench_out.json]

1. Runs `sbt runMain graft.Verify <sfDir> <outDir>` (unless --skip-verify).
2. Registers each testdata parquet as a DuckDB view named after the table.
3. Runs every oracle_sql.json entry, compares to the Spark result parquet:
   columns sorted by name, rows sorted by all columns, exact cell compare
   (with a report of near-miss float cells).
4. Bench parity (--bench, or ./bench_out.json if present): the bench
   artifact must cover EXACTLY the oracle key set and carry no per-query
   errors — a tampered/removed query name or a query that threw during
   the bench fails this check loudly.

Not part of the shipped library — developer tooling only (duckdb is
driver-side/dev-side, per the environment contract).
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

# the checkout this script sits in: Verify runs on, and BENCH snapshots
# are read from, this tree
REPO = Path(__file__).resolve().parent.parent

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    if "--skip-verify" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd=REPO, capture_output=True, text=True)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            print("VERIFY RUN FAILED")
            return 1

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_path = f"{out_dir}/{name}"
        if not Path(res_path).exists():
            print(f"FAIL {name}: no Spark result written")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM parquet_scan('{res_path}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        ok, msg = compare(got, want)
        if ok:
            print(f"PASS {name} ({len(want)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
    bench_fail = bench_parity(sys.argv, set(oracle))
    calibration_drift(sys.argv)
    print(f"\n{n_pass} pass / {n_fail} fail"
          + (" / BENCH PARITY FAIL" if bench_fail else ""))
    return 1 if (n_fail or bench_fail) else 0


def load_bench(path):
    """Parse a bench artifact: JSONL (r7+), a legacy single object, or a
    (possibly pretty-printed) driver BENCH_r{N}.json wrapper (uses its
    `parsed` object)."""
    text = Path(path).read_text()
    try:
        merged = json.loads(text)  # single document (incl. pretty-printed)
    except json.JSONDecodeError:
        merged = {}
        for line in text.splitlines():
            if not line.strip():
                continue
            try:
                merged.update(json.loads(line))
            except json.JSONDecodeError:
                # a tail-captured artifact loses line HEADS (that is the
                # whole point of the 3-line layout) — skip the truncated
                # line, keep whatever intact lines remain
                continue
    if "parsed" in merged and isinstance(merged["parsed"], dict):
        merged = merged["parsed"]
    return merged


def _round_num(path):
    """Numeric round from BENCH_LOCAL_r{N}.jsonl / BENCH_r{N}.json — the
    r7 advice: lexicographic sort breaks at r10 (r7 > r10)."""
    import re
    m = re.search(r"_r0*(\d+)\.", Path(path).name)
    return int(m.group(1)) if m else -1


def calibration_drift(argv):
    """WARN (never fail) when a query's time÷calibration ratio moved >2×
    vs a previous round's artifact (--bench-prev=...) against EVERY
    yardstick the two artifacts share. Host load moves every absolute
    number but leaves the ratios ~fixed; a plan regression moves them —
    this is the signal that spared rounds 5/6 a judge rerun, made
    mechanical. Since r8 there are TWO yardsticks (`calibration` =
    CPU-bound, `calibration_shuffle` = exchange-bound): the r7 verdict
    measured three same-code shuffle-heavy queries moving >2× against the
    CPU row alone, so a query is flagged only when it moved >2× against
    ALL shared yardsticks — a shuffle-heavy query that tracks the shuffle
    row stays calm even when host IO pressure skews the CPU ratio."""
    prev_path = next((a.split("=", 1)[1] for a in argv
                      if a.startswith("--bench-prev=")), None)
    cur_path = next((a.split("=", 1)[1] for a in argv
                     if a.startswith("--bench=")), "bench_out.json")
    if not Path(cur_path).exists():
        return
    if prev_path is None:
        # default: prefer the committed full-fidelity snapshot of a prior
        # round's bench (BENCH_LOCAL_r*.jsonl — carries the queries map
        # AND calibration); the driver-captured BENCH_r*.json keeps only
        # the contract line, whose comparison would always skip. Sort by
        # NUMERIC round, and never self-compare: once this round's
        # snapshot is committed, the newest snapshot is the current run
        # itself (byte-identical queries map) — fall back to the next one.
        cur_probe = None
        try:
            cur_probe = load_bench(cur_path)
        except Exception:
            pass
        rounds = (sorted(REPO.glob("BENCH_LOCAL_r*.jsonl"),
                         key=_round_num)
                  or sorted(REPO.glob("BENCH_r*.json"),
                            key=_round_num))
        for cand in reversed(rounds):
            try:
                if cur_probe is not None and (load_bench(str(cand)).get("queries")
                                              == cur_probe.get("queries")):
                    continue  # same artifact content — vacuous comparison
            except Exception:
                continue
            prev_path = str(cand)
            break
    if not prev_path or not Path(prev_path).exists():
        return
    try:
        prev, cur = load_bench(prev_path), load_bench(cur_path)
    except Exception as e:
        print(f"CALIBRATION: cannot compare ({e})")
        return
    # ratios are only comparable at the same data scale (an sf0.001
    # smoke vs an sf0.1 snapshot moves every per-query ratio by the
    # data-size factor while the data-independent calibration stays put)
    if prev.get("sf") and cur.get("sf") and prev["sf"] != cur["sf"]:
        print(f"CALIBRATION: scale mismatch ({cur.get('sf')} vs "
              f"{prev.get('sf')} in {prev_path}) — skipping")
        return
    # every yardstick PRESENT IN BOTH artifacts participates; pre-r8
    # snapshots lack the shuffle row, so the comparison degrades to
    # CPU-only against them (and says so)
    yardsticks = [(label, prev.get(key), cur.get(key))
                  for label, key in (("cpu", "calibration"),
                                     ("shuffle", "calibration_shuffle"))
                  if prev.get(key) and cur.get(key)]
    if not yardsticks:
        print("CALIBRATION: artifact(s) lack a calibration row — skipping")
        return
    pq, cq = prev.get("queries", {}), cur.get("queries", {})
    moved, compared = [], 0
    for name in sorted(set(pq) & set(cq)):
        if pq[name] <= 0 or cq[name] <= 0:
            continue  # a 0.00 s artifact cell has no ratio to compare
        compared += 1
        drifts = []
        for label, pc, cc in yardsticks:
            pr, cr = pq[name] / max(pc[0], 1e-9), cq[name] / max(cc[0], 1e-9)
            if cr / pr > 2.0 or pr / cr > 2.0:
                drifts.append(f"{label} {pr:.1f}x→{cr:.1f}x")
        # flag only when EVERY shared yardstick moved — one calm ratio
        # means the query tracks that yardstick's plan class
        if len(drifts) == len(yardsticks):
            moved.append(f"{name}: " + ", ".join(drifts))
    names = "+".join(l for l, _, _ in yardsticks)
    if moved:
        print(f"CALIBRATION WARN ({len(moved)} queries moved >2x against "
              f"{names} vs {prev_path}):")
        for m in moved:
            print(f"  {m}")
    elif compared == 0:
        # an all-clear with nothing compared would be indistinguishable
        # from a real one (e.g. the prev artifact carries only the
        # contract line, which deliberately has no queries map)
        print(f"CALIBRATION: no comparable query keys vs {prev_path} — skipping")
    else:
        cal0 = yardsticks[0]
        print(f"CALIBRATION OK: {compared} queries, none moved >2x against "
              f"{names} vs {prev_path} "
              f"(cal {cal0[1][0]:.3f}s -> {cal0[2][0]:.3f}s)")


def bench_parity(argv, oracle_keys):
    """Cross-check the bench artifact against the correctness key set.

    The bench iterates SparkEntry.queries itself, so a live divergence is
    impossible — what this catches is a STALE or tampered artifact (bench
    from an older build, a hand-edited queries map) and any query the
    bench recorded as thrown (its `errors` entry), which round-5's
    swallow-Throwable harness would have hidden as a fast success.
    """
    path = next((a.split("=", 1)[1] for a in argv if a.startswith("--bench=")),
                "bench_out.json")
    if not Path(path).exists():
        if any(a.startswith("--bench=") for a in argv):
            print(f"BENCH PARITY FAIL: {path} does not exist")
            return True
        return False  # no artifact around — parity not requested
    try:
        # JSONL since round 7 (detail / queries / contract lines, merged
        # with later lines winning); legacy single-object artifacts parse
        # identically
        bench = load_bench(path)
    except Exception as e:
        print(f"BENCH PARITY FAIL: cannot parse {path}: {e}")
        return True
    bench_keys = set(bench.get("queries", {}))
    missing = sorted(oracle_keys - bench_keys)
    extra = sorted(bench_keys - oracle_keys)
    # errors_full (detail line) is authoritative — the contract line's
    # map is count-capped; either being non-empty fails parity
    errors = {**bench.get("errors", {}), **bench.get("errors_full", {})}
    if bench.get("errors_omitted", 0):
        errors["(omitted)"] = f"{bench['errors_omitted']} more errors clipped"
    ok = True
    if bench.get("value") is None:
        print("BENCH PARITY FAIL: artifact has no headline total (value)")
        ok = False
    if missing:
        print(f"BENCH PARITY FAIL: bench is missing oracled queries: {missing}")
        ok = False
    if extra:
        print(f"BENCH PARITY FAIL: bench has unknown queries: {extra}")
        ok = False
    for name, info in sorted(errors.items()):
        print(f"BENCH PARITY FAIL: query threw during bench: {name}: {info}")
        ok = False
    if ok:
        print(f"BENCH PARITY OK ({len(bench_keys)} queries, no errors)")
    return not ok


def compare(got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return False, f"columns differ: spark={gc} oracle={wc}"
    got = got[gc]
    want = want[wc]
    if len(got) != len(want):
        return False, f"rowcount differs: spark={len(got)} oracle={len(want)}"
    if len(got) == 0:
        return True, ""
    got = got.sort_values(by=gc, ignore_index=True)
    want = want.sort_values(by=wc, ignore_index=True)
    for c in gc:
        for i, (a, b) in enumerate(zip(got[c], want[c])):
            if cell_eq(a, b):
                continue
            near = ""
            try:
                if abs(float(a) - float(b)) < 1e-6 * max(1, abs(float(b))):
                    near = " (NEAR MISS — float noise; add rounding)"
            except (TypeError, ValueError):
                pass
            return False, f"col {c} row {i}: spark={a!r} oracle={b!r}{near}"
    return True, ""


def cell_eq(a, b):
    a_nan = isinstance(a, float) and math.isnan(a)
    b_nan = isinstance(b, float) and math.isnan(b)
    if a_nan or b_nan:
        return a_nan and b_nan
    if a is None or b is None:
        return (a is None or a != a) and (b is None or b != b)
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


if __name__ == "__main__":
    sys.exit(main())
