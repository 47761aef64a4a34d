#!/usr/bin/env python3
"""Round-over-round bench regression gate + scaling gate.

Usage: check_bench.py <new_bench.json> <prev_bench.json> [threshold]
       check_bench.py --scaling <scaling.json> [alpha_threshold]
       check_bench.py --recall <ann_recall.json>

<new_bench.json>: the bench's own JSON line (e.g. target/bench_last.json)
  or a driver BENCH_r{N}.json wrapper.
<prev_bench.json>: one previous record, same formats accepted (the full
  record, bench_full_*.json, carries the spreads and fingerprints).
threshold: per-query slowdown alarm factor (default 2.0). Queries faster
  than 1 s in the baseline are exempt — sub-second queries show ~2x
  run-to-run jitter, so gating them only produces false alarms.

Two records compare only when they were timed the same way: a record's
"timed_to" ("noop" = to the full result; records without the key were
timed with .count()) must match, else exit 2. An entry whose result
fingerprint moved between the two records prints FPRT and fails.

--scaling mode reads graft.Scaling's target/scaling.json and flags any
query whose empirical growth exponent exceeds the threshold (default
1.35 — O(n log n) at these sizes is ~1.08, so the margin is noise
headroom). Exponents measured from sub-2s large-scale times are reported
but exempt: constant overheads dominate them.

Exit 1 if any query regressed past the threshold, changed its result
fingerprint, or errored, or the total regressed >1.5x (bench mode), or
any measurable query grew super-linearly (scaling mode).
"""
import json
import re
import sys


def check_scaling(path, alpha_max=1.35):
    d = json.load(open(path))
    bad = []
    for q, m in sorted(d["queries"].items()):
        for alpha_key, t_key in (("alpha_small", "t_sf01"), ("alpha_large", "t_synth")):
            if alpha_key not in m:
                continue
            a, t = m[alpha_key], m[t_key]
            measurable = t >= 2.0
            flag = measurable and a > alpha_max
            mark = "SUPR" if flag else ("ok  " if measurable else "tiny")
            print(f"{mark} {q} {alpha_key}={a:.2f} ({t_key}={t:.2f}s)")
            if flag:
                bad.append(f"{q}:{alpha_key}={a:.2f}")
    if bad:
        print(f"SUPER-LINEAR GROWTH: {bad}")
        return 1
    print("SCALING OK")
    return 0


def load_bench(path):
    raw = open(path).read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d:
        return d
    # driver wrapper: {"tail": "...{json line}..."} or parsed field
    if isinstance(d, dict):
        if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
            return d["parsed"]
        m = re.search(r'\{"metric".*?"sf":[^}]*\}', d.get("tail", ""))
        if m:
            return json.loads(m.group(0))
    # last resort: grep the file text for the JSON line
    m = re.search(r'\{"metric".*?"sf":[^}]*\}', raw)
    if m:
        return json.loads(m.group(0))
    raise SystemExit(f"cannot find bench JSON in {path}")


def check_recall(path):
    """ANN quality gate over graft.AnnRecall's target/ann_recall.json.

    Floors (recall@k at a probe budget, from the round-9 curves with
    slack for sampling noise): IVF >= 0.70 by 50% scanned and >= 0.50
    by 25%; LSH >= 0.30 by 30% scanned; PQ whole-corpus scan >= 0.10;
    IVF-PQ+rerank >= 0.40 by 25% scanned
    (coarse codes trade recall for 32x compression — the floor catches
    a broken codebook, not a tuning drift). A recall regression should
    fail the round as loudly as a perf one.
    """
    d = json.load(open(path))
    curves = d["curves"]
    bad = []

    def floor_at(name, budget, lo):
        pts = [p for p in curves.get(name, []) if p["scanned"] <= budget]
        if not pts:
            print(f"MISS {name}: no point within {budget:.0%} scanned")
            bad.append(f"{name}@{budget}")
            return
        best = max(p["recall"] for p in pts)
        flag = best < lo
        mark = "LOW " if flag else "ok  "
        print(f"{mark} {name}: best recall {best:.3f} within {budget:.0%} "
              f"scanned (floor {lo})")
        if flag:
            bad.append(f"{name}@{budget}={best:.3f}")

    floor_at("ivf", 0.50, 0.70)
    floor_at("ivf", 0.25, 0.50)
    floor_at("lsh", 0.30, 0.30)
    floor_at("pq", 1.00, 0.10)
    floor_at("ivfpq_rerank", 0.25, 0.40)

    # Synth x8 scale point (AnnRecall "synth" section, r11+): the same
    # tiers on the 16k-vector decorrelated corpus with the index sized
    # the deployment way (nCells ~ sqrt(n)) - pins that recall does not
    # collapse as nCells/nProbe scale with the corpus. Floors from the
    # r11 curves with slack: IVF 0.962 measured at 3% scanned -> 0.80 by
    # 25%; IVF-PQ+rerank 0.490 at its best in-budget point -> 0.35 by
    # 25% (the fixed-50 shortlist dilutes as probed candidates grow, so
    # the best point sits at LOW nProbe - by design).
    synth = d.get("synth")
    if synth is None:
        print("MISS synth: no x8-scale recall section in the artifact")
        bad.append("synth")
    else:
        curves = {f"synth_{k}": v for k, v in synth["curves"].items()}
        floor_at("synth_ivf", 0.25, 0.80)
        floor_at("synth_ivfpq_rerank", 0.25, 0.35)
        # shortlist ~ probed cells holds recall flat where the fixed-50
        # shortlist dilutes (r11 measured 0.93 at 12.5% scanned vs 0.33)
        floor_at("synth_ivfpq_rerank_scaled", 0.25, 0.70)
    # x16 third scale point (r13): n doubles again, sqrt(n) cells ~178 —
    # the probe-scaled shortlist must keep holding at the same budgets
    # (r13 measured ivf 0.99 and rerank_scaled 0.88 best-in-budget)
    synth16 = d.get("synth_x16")
    if synth16 is None:
        print("MISS synth_x16: no x16-scale recall section in the artifact")
        bad.append("synth_x16")
    else:
        curves = {f"synth16_{k}": v for k, v in synth16["curves"].items()}
        floor_at("synth16_ivf", 0.25, 0.80)
        floor_at("synth16_ivfpq_rerank_scaled", 0.25, 0.70)
    # x32 fourth scale point (r14): 64k vectors, sqrt(n) cells ~252 —
    # same budgets, same discipline (r14 measured ivf 1.0 and
    # rerank_scaled 0.85 best-in-budget)
    synth32 = d.get("synth_x32")
    if synth32 is None:
        print("MISS synth_x32: no x32-scale recall section in the artifact")
        bad.append("synth_x32")
    else:
        curves = {f"synth32_{k}": v for k, v in synth32["curves"].items()}
        floor_at("synth32_ivf", 0.25, 0.80)
        floor_at("synth32_ivfpq_rerank_scaled", 0.25, 0.70)
    if bad:
        print(f"RECALL REGRESSIONS: {bad}")
        return 1
    print("RECALL OK")
    return 0


def main():
    if sys.argv[1] == "--scaling":
        alpha = float(sys.argv[3]) if len(sys.argv) > 3 else 1.35
        return check_scaling(sys.argv[2], alpha)
    if sys.argv[1] == "--recall":
        return check_recall(sys.argv[2])
    new = load_bench(sys.argv[1])
    prev = load_bench(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
    timed = [r.get("timed_to", "count") for r in (new, prev)]
    if timed[0] != timed[1]:
        print(f"INCOMPARABLE: {sys.argv[1]} is timed to {timed[0]}, "
              f"{sys.argv[2]} to {timed[1]}")
        return 2
    noise_floor = 1.0
    bad = []
    for q, old_t in sorted(prev["queries"].items()):
        new_t = new["queries"].get(q)
        if new_t is None:
            print(f"GONE {q}: was {old_t:.2f}s, missing in new run")
            bad.append(q)
            continue
        ratio = new_t / old_t if old_t > 0 else float("inf")
        flag = old_t >= noise_floor and ratio > threshold
        if ratio > threshold:
            mark = "SLOW" if flag else "ok  "
            print(f"{mark} {q}: {old_t:.2f}s -> {new_t:.2f}s ({ratio:.2f}x)")
        if flag:
            bad.append(q)
    new_fp, prev_fp = new.get("fingerprints", {}), prev.get("fingerprints", {})
    for q in sorted(new_fp.keys() & prev_fp.keys()):
        if new_fp[q] != prev_fp[q]:
            print(f"FPRT {q}: result fingerprint {prev_fp[q]} -> {new_fp[q]}")
            bad.append(f"{q}:fingerprint")
    for q, msg in sorted(new.get("errors", {}).items()):
        print(f"ERR  {q}: {msg}")
        bad.append(q)
    # reproducibility GATE: a median whose max is far above it means the
    # entry still has a variance source the quiesce misses (round-4
    # flagship bug; round-7 heavy entries showed 3-10x min-to-max bands).
    # RECURRENCE rule (round 12): with ~40 streaming-fixture entries and
    # 3 reps each, every full run shows ~0-2 single-rep scheduler blips
    # on a DIFFERENT entry each time (r12: pipe_masked_view/q21 in one
    # run, pipe_streaming_epoch_compact — tight in the two adjacent
    # runs — in the next) while medians hold. A REPRODUCIBLE slow mode
    # shows up run after run (dedup_cross_er r10->r11) or moves the
    # median (the SLOW check above catches that immediately). So: a
    # violation FAILS if the same entry also violated in the previous
    # record (recurrence), or if >= 3 entries violate in one run (mass
    # jitter = contaminated run). First-occurrence single blips print as
    # watch items.
    def viol(rec):
        out = {}
        for q, tsp in rec.get("spread", {}).items():
            lo, med, hi = tsp
            if med >= noise_floor and hi > 1.5 * med:
                out[q] = (lo, med, hi)
        return out
    new_viol = viol(new)
    prev_viol = viol(prev)
    # the recurrence rule needs the PREV record's spreads: a compact
    # BENCH_rN.json wrapper carries none, which makes prev_viol vacuously
    # empty and silently disables the recurrence half of the gate (r12
    # ADVICE) — warn loudly; close_round.sh now REQUIRES the full-record
    # baseline so the round gate never runs in this degraded mode
    if "spread" not in prev:
        print("WARN prev baseline has no 'spread' key (compact wrapper?) — "
              "VAR recurrence cannot be evaluated in THIS invocation; the "
              "round gate must also run against the full bench record "
              "(bench_full_rN.json)")
    for q, (lo, med, hi) in sorted(new_viol.items()):
        recur = q in prev_viol
        mark = "VAR " if recur else "var?"
        note = "RECURRED vs prev" if recur else "first occurrence — watch"
        print(f"{mark} {q}: spread [{lo:.2f}, {med:.2f}, {hi:.2f}]s "
              f"(max {hi/med:.2f}x median; {note})")
        if recur:
            bad.append(f"{q}:spread")
    if len(new_viol) >= 3:
        print(f"VAR  {len(new_viol)} entries violated in one run — "
              "mass jitter")
        bad.append("spread:mass")
    tot_ratio = new["value"] / prev["value"] if prev.get("value") else 1.0
    print(f"total: {prev.get('value', 0):.1f}s -> {new.get('value', 0):.1f}s ({tot_ratio:.2f}x)")
    if "freshness_sec" in new:
        f = new["freshness_sec"]
        print(f"freshness_sec: {f:.1f}")
        if f < 0:  # Bench emits -1.0 when the probe itself failed
            print("FAIL freshness probe errored (streaming/catalog path broken)")
            bad.append("freshness")
        elif f > 60:
            print("SLOW freshness above the 60 s reference envelope")
            bad.append("freshness")
    if bad or tot_ratio > 1.5:
        print(f"REGRESSIONS: {bad}")
        return 1
    print("BENCH OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
