#!/usr/bin/env python3
"""Noise-aware per-query bench comparison (round-10 verdict directive #3;
--confirm added by round-12 directive #1).

Usage: python3 tools/bench_diff.py OLD_BENCH.json NEW_BENCH.json
           [--json OUT] [--confirm] [--passes N]

Input files are BENCH_LATEST-format: {"queries": {name: {"min": s,
"passes": [s, s, s]}, ...}, ...}. With 180+ entries on a shared VM the
pass-total spread runs +/-13%, so a bare min-over-min ratio at the 1.3x
band flags noise. The model here requires BOTH of:

  1. a session-drift-normalized min ratio beyond the threshold --
     drift is the median per-query min ratio across all common
     entries, which absorbs whole-session slowdowns (JVM, noisy
     neighbor, suite growth) without masking single-query moves; and
  2. non-overlapping pass ranges -- EVERY pass of the slower run
     slower than EVERY pass of the faster one. A genuinely regressed
     plan is slower on all three passes; a noisy neighbor hits one or
     two (cf. q_moving_avg's [9.6, 1.2, 1.0] r10 passes: a 9.6s
     outlier pass with an unchanged min is noise, not regression).

Queries under the absolute floor (min < 0.2 s in both runs) are never
flagged -- sub-200ms timings on a shared VM are scheduler noise.
Error-sentinel entries (Bench records min = -1.0 when any pass of a
query errored) are excluded from the drift median and from flagging,
and reported separately as "sentinels". Improvements are reported
symmetrically (same criteria, inverted).

--confirm adjudicates each flag with fresh data instead of leaving it
open: it re-runs every flagged query in ISOLATION (graft.BenchOne,
one warm JVM, N=--passes, default 5) together with up to 5 stable
CONTROL queries (unflagged, >=0.5 s, normalized ratio nearest 1.0).
The controls calibrate isolation-vs-suite bias (isolated runs dodge
suite neighbors, so they come in systematically faster); each flag's
isolated min, rescaled by the control median, is then compared to the
OLD number on the session-drift-corrected scale:

    confirmed     rescaled ratio >= threshold  (the regression
                  reproduces with no suite around it -- it's the plan)
    noise         rescaled ratio <= midpoint (1.15)  (isolation gives
                  the old number back -- the suite run was unlucky)
    inconclusive  in between

Validated on the round-9 -> round-10 data: flags corpus_bpe_merges
(1.25 -> 2.01 s, all passes elevated) and nothing else. The round-11
artifacts' 10 flags were adjudicated by --confirm (that report,
BENCH_DIFF_r11.json, is in the git history).
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile

THRESHOLD = 1.3   # normalized min-ratio band
MIDPOINT = 1.15   # confirm-mode noise boundary
FLOOR = 0.2       # seconds; below this in both runs -> never flagged
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as f:
        d = json.load(f)
    q = d.get("queries", {})
    if not q:
        sys.exit(f"{path}: no per-query map (need BENCH_LATEST format, "
                 "not the truncated BENCH_rNN tail)")
    return q


def diff(old, new, threshold=THRESHOLD, floor=FLOOR):
    common = sorted(set(old) & set(new))
    if not common:
        sys.exit("no common queries between the two files")
    # error sentinels (min = -1.0 from Bench) would skew the drift
    # median and can zero-divide; keep them out of all ratio math
    sentinels = [k for k in common if old[k]["min"] <= 0 or new[k]["min"] <= 0]
    live = [k for k in common if k not in set(sentinels)]
    if not live:
        sys.exit("no common non-sentinel queries between the two files")
    drift = statistics.median(new[k]["min"] / old[k]["min"] for k in live)
    regressions, improvements = [], []
    for k in live:
        o, n = old[k], new[k]
        if o["min"] < floor and n["min"] < floor:
            continue
        norm = (n["min"] / o["min"]) / drift
        entry = {
            "query": k,
            "old_min": o["min"], "new_min": n["min"],
            "old_passes": o["passes"], "new_passes": n["passes"],
            "ratio": round(n["min"] / o["min"], 3),
            "normalized_ratio": round(norm, 3),
        }
        if norm >= threshold and min(n["passes"]) > max(o["passes"]):
            regressions.append(entry)
        elif norm <= 1 / threshold and max(n["passes"]) < min(o["passes"]):
            improvements.append(entry)
    return {
        "n_common": len(common),
        "only_old": sorted(set(old) - set(new)),
        "only_new": sorted(set(new) - set(old)),
        "sentinels": sentinels,
        "session_drift": round(drift, 4),
        "threshold": threshold,
        "regressions": sorted(regressions, key=lambda e: -e["normalized_ratio"]),
        "improvements": sorted(improvements, key=lambda e: e["normalized_ratio"]),
    }


def pick_controls(old, new, flagged, n=5, min_s=0.5):
    """Stable calibration queries: unflagged, slow enough to time
    reliably, suite ratio nearest the session median."""
    drift = statistics.median(
        new[k]["min"] / old[k]["min"]
        for k in set(old) & set(new) if old[k]["min"] > 0 and new[k]["min"] > 0)
    cands = [k for k in set(old) & set(new)
             if k not in flagged and old[k]["min"] >= min_s and new[k]["min"] >= min_s]
    return sorted(cands,
                  key=lambda k: abs((new[k]["min"] / old[k]["min"]) / drift - 1))[:n]


def run_isolated(queries, passes):
    """One BenchOne JVM over all queries; returns {name: min_seconds}."""
    fd, out = tempfile.mkstemp(suffix="_benchone.json")
    os.close(fd)
    os.unlink(out)  # BenchOne creates the file; mkstemp only reserved the name
    env = dict(os.environ,
               SPARK_GRAFT_BENCHONE_PASSES=str(passes),
               SPARK_GRAFT_BENCHONE_OUT=out)
    cmd = ["sbt", "-batch", "runMain graft.BenchOne " + " ".join(queries)]
    print(f"[confirm] isolating {len(queries)} queries x {passes} passes "
          f"(one warm JVM) ...", flush=True)
    r = subprocess.run(cmd, cwd=REPO, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.exists(out):
        sys.exit(f"[confirm] BenchOne failed (rc={r.returncode}):\n"
                 + "\n".join(r.stdout.splitlines()[-30:]))
    with open(out) as f:
        return {k: v["min"] for k, v in json.load(f)["queries"].items()}


def confirm(result, old, new, passes):
    flags = [e["query"] for e in result["regressions"]]
    if not flags:
        result["confirm"] = {"flags": [], "note": "nothing flagged"}
        return
    controls = pick_controls(old, new, set(flags))
    iso = run_isolated(flags + controls, passes)
    # isolation bias: how much faster a STABLE query runs alone vs its
    # new-suite min (expected < 1; median over controls)
    ctl = {k: round(iso[k] / new[k]["min"], 3) for k in controls}
    bias = statistics.median(ctl.values()) if ctl else 1.0
    verdicts = []
    for e in result["regressions"]:
        k = e["query"]
        # rescale the isolated min onto the suite scale, then compare
        # to OLD on the session-drift-corrected scale (same normalizer
        # as the flag itself, so flag and verdict are commensurable)
        rescaled = (iso[k] / bias / old[k]["min"]) / result["session_drift"]
        v = ("confirmed" if rescaled >= result["threshold"]
             else "noise" if rescaled <= MIDPOINT else "inconclusive")
        verdicts.append({
            "query": k, "old_min": old[k]["min"], "suite_new_min": new[k]["min"],
            "isolated_min": round(iso[k], 3),
            "isolation_bias": round(bias, 3),
            "rescaled_ratio_vs_old": round(rescaled, 3),
            "verdict": v,
        })
        e["confirm_verdict"] = v
    result["confirm"] = {
        "passes": passes,
        "controls": ctl,
        "isolation_bias": round(bias, 3),
        "flags": verdicts,
        "n_confirmed": sum(1 for v in verdicts if v["verdict"] == "confirmed"),
        "n_noise": sum(1 for v in verdicts if v["verdict"] == "noise"),
        "n_inconclusive": sum(1 for v in verdicts if v["verdict"] == "inconclusive"),
    }


def main(argv):
    argv = list(argv)
    out = None
    if "--json" in argv:                  # pop the pair BEFORE the arity
        i = argv.index("--json")          # check (the r11-advice bug: the
        if i + 1 >= len(argv):            # OUT operand used to survive into
            sys.exit(__doc__)             # args and trip the usage exit)
        out = argv[i + 1]
        del argv[i:i + 2]
    passes = 5
    if "--passes" in argv:
        i = argv.index("--passes")
        if i + 1 >= len(argv):
            sys.exit(__doc__)
        passes = int(argv[i + 1])
        del argv[i:i + 2]
    do_confirm = "--confirm" in argv
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    old, new = load(args[0]), load(args[1])
    result = diff(old, new)
    print(f"common queries: {result['n_common']}  "
          f"session drift: {result['session_drift']}x  "
          f"(+{len(result['only_new'])} new, -{len(result['only_old'])} removed, "
          f"{len(result['sentinels'])} sentinel)")
    if do_confirm:
        confirm(result, old, new, passes)
    for kind in ("regressions", "improvements"):
        rows = result[kind]
        print(f"{kind}: {len(rows)}")
        for e in rows:
            verdict = f" [{e['confirm_verdict']}]" if "confirm_verdict" in e else ""
            print(f"  {e['query']}: {e['old_min']} -> {e['new_min']} s "
                  f"(x{e['ratio']}, normalized x{e['normalized_ratio']}){verdict} "
                  f"passes {e['old_passes']} -> {e['new_passes']}")
    if do_confirm and result["confirm"].get("flags"):
        c = result["confirm"]
        print(f"confirm: {c['n_confirmed']} confirmed, {c['n_noise']} noise, "
              f"{c['n_inconclusive']} inconclusive "
              f"(isolation bias {c['isolation_bias']}x over {len(c['controls'])} controls)")
        for v in c["flags"]:
            print(f"  {v['query']}: isolated {v['isolated_min']} s vs old "
                  f"{v['old_min']} s -> rescaled x{v['rescaled_ratio_vs_old']} "
                  f"= {v['verdict']}")
    if out:
        with open(out, "w") as f:
            json.dump(result, f, indent=1)
        print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
