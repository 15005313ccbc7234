#!/usr/bin/env python3
"""Calibration-normalized bench comparator.

Usage:
    python3 tools/bench_diff.py OLD NEW [--threshold 1.2] [--min-sec 1.0]
                                        [--fail-on-regression]

OLD / NEW are each one bench result file, or several joined by commas
(OLD1,OLD2 NEW1,NEW2): several runs of one side are compared through
their per-query medians, with the median calib_sec of the side. One run
per side cannot tell a code change from run order (on a shared host the
side that ran first was faster on the whole board, by up to 17 %), so
alternate the sides' runs and pass them all.

Each file is in either of two shapes:

  1. `bench.json` as written by graft.Bench — one JSON object with
     "queries" {name: sec}, "calib_sec", "errors", optionally "flaky".
  2. A driver `BENCH_r{N}.json` wrapper — {"n","rc","tail",...} where
     "tail" holds the (possibly front-truncated) captured stdout that
     contains the bench JSON line. Query times and calib_sec are
     recovered from the tail by regex; a truncated tail yields a
     partial query set, which is reported, and the diff runs over the
     intersection.

Why normalize: the bench host's speed drifts between rounds (measured
~±10–60 % on this box — see Bench.scala's scaladoc). Each bench run
times a fixed pure-CPU calibration probe and ships its min as
"calib_sec"; if calib moved with the totals, the HOST moved, not the
code. The comparable number is therefore

    norm_ratio = (new_sec / new_calib) / (old_sec / old_calib)

i.e. the query's cost in units of "calibration probes" on each host.
When either side lacks calib_sec (rounds before r13), the tool falls
back to raw ratios and says so.

`--bands bands.json` supplies per-query variance bands recorded from
≥3 same-code runs: {"calib_sec": anchor, "bands": {name: [lo, hi]}}
in raw seconds at the anchor host speed. For a banded query the
ratio rules are REPLACED by the band: the NEW time is rescaled to the
anchor (new_sec * anchor_calib / new_calib, raw when either calib is
missing) and flagged REGRESSION only above `hi`, IMPROVED only below
`lo`, never flagged inside the band — so a known oscillator whose
trough→crest ratio trips the 1.2× rule stops re-flagging every round,
while a move beyond its recorded envelope still fires. The band file
is maintained in-repo (bands.json) next to the PLANS.md series it is
derived from.

A ≥`--min-sec` (default 1.0 s on either side) entry is flagged
REGRESSION only when BOTH drift opinions agree it moved: its
calib-normalized ratio exceeds `--threshold` (default 1.2×) AND its
raw ratio sits more than `--median-threshold` (default 1.1×) above
the board-median raw ratio. The calib probe alone mis-read twice in
round 16 (±11 % spread between same-code runs — enough to flip
borderline entries across 1.2×); the board median over ~80 queries is
the stabler second opinion, so a board-wide move (host drift) no
longer flags individual queries. The vs-median criterion needs a wide
board to mean anything: below `--min-board` common ≥0-ratio queries
(default 8) the rule falls back to calib-norm alone and says so.
Below 1/threshold normalized is flagged IMPROVED (norm-only — missing
an improvement costs nothing). Sub-second entries are listed but
never flagged: their run-to-run scatter (±10 % floor, worse under
contention) exceeds any signal at this SF.
"""

import argparse
import json
import re
import statistics
import sys

# keys that appear as "key":number in the bench JSON line but are not
# query timings (used when recovering from a truncated driver tail)
META_KEYS = {"metric", "value", "n", "rc", "cpus", "sf", "calib_sec", "unit"}

NUM = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"


def load_bench(path):
    """Return (queries: dict name->sec, calib: float|None, meta: dict)."""
    with open(path) as f:
        data = json.load(f)

    if "queries" in data:
        q = {k: float(v) for k, v in data["queries"].items() if float(v) >= 0}
        return q, data.get("calib_sec"), {
            "source": "bench.json",
            "partial": False,
            "errors": data.get("errors", {}),
            "flaky": data.get("flaky", {}),
            "total": data.get("value"),
        }

    if "tail" in data:
        tail = data["tail"]
        # prefer the complete JSON line if the tail happens to hold one.
        # The line may carry a logger prefix (sbt stdout prefixes it with
        # '[info] ' — the verify recipe greps for exactly that), so find
        # '{"metric"' anywhere in the line rather than only at column 0.
        for line in tail.splitlines():
            start = line.find('{"metric"')
            if start >= 0:
                line = line[start:].strip()
                try:
                    inner = json.loads(line)
                    q = {k: float(v) for k, v in inner["queries"].items()
                         if float(v) >= 0}
                    return q, inner.get("calib_sec"), {
                        "source": f"BENCH wrapper (full line, round {data.get('n')})",
                        "partial": False,
                        "errors": inner.get("errors", {}),
                        "flaky": inner.get("flaky", {}),
                        "total": inner.get("value"),
                    }
                except (json.JSONDecodeError, KeyError):
                    pass
        # front-truncated tail: recover "name":sec pairs by regex.
        # Anchor the scan to the region after the LAST '"queries":{'
        # occurrence so non-bench driver noise earlier in the tail (a
        # JSON-ish log line with its own "name":num pairs, or a stray
        # '"errors"') can neither fabricate timings nor truncate real
        # ones. When the tail is front-truncated INSIDE the queries map
        # the anchor itself is clipped away — then the whole tail is the
        # map remnant and the scan starts at 0 as before. Either way,
        # stop at the first '"errors"' AFTER the anchor so error-message
        # contents can't be mistaken for timings.
        def recover(start):
            cut = tail.find('"errors"', start)
            body = tail[start:] if cut < 0 else tail[start:cut]
            q = {}
            for m in re.finditer(r'"([A-Za-z0-9_]+)":(%s)(?=[,}])' % NUM, body):
                name, sec = m.group(1), float(m.group(2))
                if name not in META_KEYS and sec >= 0:
                    q[name] = sec
            return q

        # try every '"queries":{' occurrence LAST-first (the bench line
        # prints at the end of the run, so later anchors are more likely
        # the real map), keeping the anchor that recovers the MOST
        # timings — a JSON-ish noise line containing '"queries":{' after
        # the real line then loses to the real map instead of hijacking
        # it. The whole-tail scan recover(0) is ALWAYS in the running,
        # not just when no anchor exists: if the tail is front-truncated
        # INSIDE the real map (its anchor clipped away) while trailing
        # noise still contains '"queries":{', the noise anchor would
        # otherwise be the only candidate and the real clipped timings
        # before it silently discarded. recover(0) stops at the first
        # '"errors"' so it cannot over-collect past the real map either.
        anchors = [m.end() for m in re.finditer(r'"queries":\{', tail)]
        q = {}
        for start in list(reversed(anchors)) + [0]:
            cand = recover(start)
            if len(cand) > len(q):
                q = cand
        calib = None
        mc = re.search(r'"calib_sec":(%s)' % NUM, tail)
        if mc:
            calib = float(mc.group(1))
        return q, calib, {
            "source": f"BENCH wrapper (truncated tail, round {data.get('n')})",
            "partial": True,
            "errors": {},
            "flaky": {},
            "total": None,
        }

    raise SystemExit(f"{path}: unrecognized format (no 'queries' or 'tail' key)")


def load_side(paths):
    """One side's runs, comma-separated: a single run loads as is; for
    several, each query's median over the runs that timed it and the
    median calib_sec (None if any run lacks one)."""
    runs = [load_bench(p) for p in paths.split(",")]
    if len(runs) == 1:
        return runs[0]
    names = set().union(*(q for q, _, _ in runs))
    q = {n: statistics.median(r[0][n] for r in runs if n in r[0]) for n in names}
    calibs = [c for _, c, _ in runs]
    calib = statistics.median(calibs) if None not in calibs else None
    errors, flaky = {}, {}
    for _, _, m in runs:
        errors.update(m["errors"])
        for n, k in m["flaky"].items():
            flaky[n] = flaky.get(n, 0) + k
    return q, calib, {
        "source": f"median of {len(runs)} runs",
        "partial": any(m["partial"] for _, _, m in runs),
        "errors": errors,
        "flaky": flaky,
        "total": None,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old", help="bench result file(s), comma-separated")
    ap.add_argument("new", help="bench result file(s), comma-separated")
    ap.add_argument("--threshold", type=float, default=1.2,
                    help="normalized ratio above which a >=min-sec entry is "
                         "flagged REGRESSION (default 1.2)")
    ap.add_argument("--min-sec", type=float, default=1.0,
                    help="only entries at or above this duration (on either "
                         "side) can be flagged (default 1.0)")
    ap.add_argument("--median-threshold", type=float, default=1.1,
                    help="REGRESSION additionally requires raw ratio > "
                         "board-median * this (default 1.1)")
    ap.add_argument("--min-board", type=int, default=8,
                    help="below this many common queries the vs-median "
                         "criterion is disabled (median too noisy; default 8)")
    ap.add_argument("--bands", default=None,
                    help="per-query variance band file: {'calib_sec': anchor, "
                         "'bands': {name: [lo, hi]}} in raw seconds at the "
                         "anchor host speed; banded queries flag only outside "
                         "their band")
    ap.add_argument("--fail-on-regression", action="store_true",
                    help="exit 1 if any entry is flagged REGRESSION")
    args = ap.parse_args()

    bands, band_calib = {}, None
    if args.bands:
        with open(args.bands) as f:
            bf = json.load(f)
        bands = {k: (float(v[0]), float(v[1])) for k, v in bf["bands"].items()}
        band_calib = bf.get("calib_sec")

    old_q, old_c, old_m = load_side(args.old)
    new_q, new_c, new_m = load_side(args.new)

    print(f"OLD {args.old}: {len(old_q)} queries [{old_m['source']}]"
          + (" — PARTIAL (truncated tail)" if old_m["partial"] else ""))
    print(f"NEW {args.new}: {len(new_q)} queries [{new_m['source']}]"
          + (" — PARTIAL (truncated tail)" if new_m["partial"] else ""))

    normalized = old_c is not None and new_c is not None
    if normalized:
        host = new_c / old_c
        print(f"calib_sec: old={old_c:.4f}  new={new_c:.4f}  "
              f"host-speed ratio={host:.3f} "
              f"({'new host slower' if host > 1 else 'new host faster' if host < 1 else 'same'})")
        print(f"norm_ratio = (new/new_calib)/(old/old_calib); flag if "
              f">= {args.min_sec}s, norm > {args.threshold} AND raw > "
              f"board-median * {args.median_threshold}")
    else:
        missing = [n for n, c in (("OLD", old_c), ("NEW", new_c)) if c is None]
        print(f"WARNING: {' and '.join(missing)} lack calib_sec — "
              f"ratios below are RAW (host drift not removed)")

    common = sorted(set(old_q) & set(new_q))
    only_old = sorted(set(old_q) - set(new_q))
    only_new = sorted(set(new_q) - set(old_q))
    if only_old:
        print(f"only in OLD ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"only in NEW ({len(only_new)}): {', '.join(only_new)}")

    pre = []
    for name in common:
        o, n = old_q[name], new_q[name]
        raw = n / o if o > 0 else float("inf")
        norm = (n / new_c) / (o / old_c) if normalized and o > 0 else raw
        pre.append((name, o, n, raw, norm))

    # Second drift opinion, from the board itself: the median of the
    # per-query RAW ratios. The calib probe is one number from one
    # pure-CPU job and has measured +/-11% spread between same-code
    # runs (round 16: calibs 0.2554 vs 0.2295 an hour apart while the
    # 82 query timings agreed within 1.6%) — enough to flip borderline
    # entries across the 1.2x threshold. The median over ~80 queries is
    # far more stable, so since round 17 it is PART OF THE FLAG RULE:
    # REGRESSION requires calib-norm > threshold AND raw ratio more
    # than --median-threshold above the board median (both numbers are
    # always printed so the series stays readable). On a narrow board
    # (< --min-board comparable queries) the median is itself noise and
    # the rule falls back to calib-norm alone.
    finite = [r[3] for r in pre if r[1] > 0]
    med_ratio = statistics.median(finite) if finite else float("nan")
    use_median = len(finite) >= args.min_board and med_ratio > 0
    print(f"board-median raw ratio: {med_ratio:.3f} "
          f"(drift estimate from the {len(common)} common queries; "
          f"calib implies {new_c / old_c:.3f})" if normalized else
          f"board-median raw ratio: {med_ratio:.3f}")
    if not use_median:
        print(f"board too small for the vs-median criterion "
              f"({len(finite)} < {args.min_board}): flagging on calib-norm alone")

    if bands:
        print(f"bands: {len(bands)} banded queries from {args.bands} "
              f"(anchor calib {band_calib}); banded entries flag only "
              f"outside their [lo, hi]")

    rows = []
    for name, o, n, raw, norm in pre:
        vs_med = raw / med_ratio if med_ratio == med_ratio and med_ratio > 0 \
            else float("nan")
        eligible = max(o, n) >= args.min_sec
        if name in bands:
            # band rule replaces the ratio rules: rescale NEW to the
            # anchor host speed and compare against the recorded envelope.
            # The norm/vs-med ratios stay printed IN the flag for banded
            # entries (r18 ADVICE): the band absorbs the flag decision,
            # but any drift it absorbed must remain visible in the series
            # — a banded query creeping toward its hi bound reads as
            # "in-band(...) norm 1.3x", not as silence.
            lo, hi = bands[name]
            scaled = n * (band_calib / new_c) \
                if band_calib is not None and new_c else n
            ratios = f" norm {norm:.2f}x" + \
                (f" vs-med {vs_med:.2f}x" if vs_med == vs_med else "")
            if eligible and scaled > hi:
                flag = f"REGRESSION(>band {lo:.2f}-{hi:.2f}@{scaled:.2f}){ratios}"
            elif eligible and scaled < lo:
                flag = f"IMPROVED(<band {lo:.2f}-{hi:.2f}@{scaled:.2f}){ratios}"
            else:
                flag = f"in-band({lo:.2f}-{hi:.2f}@{scaled:.2f}){ratios}"
        elif eligible and norm > args.threshold and \
                (not use_median or vs_med > args.median_threshold):
            flag = "REGRESSION"
        elif eligible and norm < 1.0 / args.threshold:
            flag = "IMPROVED"
        else:
            flag = ""
        rows.append((name, o, n, raw, norm, vs_med, flag))

    rows.sort(key=lambda r: -r[4])

    hdr = (f"{'query':<28}{'old_s':>9}{'new_s':>9}{'raw':>7}{'norm':>7}"
           f"{'vs-med':>8}  flag")
    print()
    print(hdr)
    print("-" * len(hdr))
    for name, o, n, raw, norm, vs_med, flag in rows:
        vm = f"{vs_med:>8.2f}" if vs_med == vs_med else f"{'—':>8}"
        print(f"{name:<28}{o:>9.3f}{n:>9.3f}{raw:>7.2f}{norm:>7.2f}{vm}  {flag}")

    tot_o = sum(old_q[n] for n in common)
    tot_n = sum(new_q[n] for n in common)
    raw_t = tot_n / tot_o if tot_o else float("nan")
    norm_t = raw_t * (old_c / new_c) if normalized else raw_t
    print("-" * len(hdr))
    print(f"{'TOTAL (common)':<28}{tot_o:>9.3f}{tot_n:>9.3f}{raw_t:>7.2f}{norm_t:>7.2f}")

    regs = [r for r in rows if r[6].startswith("REGRESSION")]
    imps = [r for r in rows if r[6].startswith("IMPROVED")]
    rule = (f"norm > {args.threshold}x AND vs-median > {args.median_threshold}x"
            if use_median else f"norm > {args.threshold}x [median disabled]")
    print()
    print(f"summary: {len(common)} compared, "
          f"{len(regs)} regression(s) ({rule} at >= {args.min_sec}s), "
          f"{len(imps)} improved"
          + ("" if normalized else " [RAW — no calib normalization]"))
    for name, o, n, raw, norm, vs_med, _ in regs:
        vm = (f", vs-median {vs_med:.2f}x" if vs_med == vs_med else "")
        print(f"  REGRESSION {name}: {o:.3f}s -> {n:.3f}s "
              f"(raw {raw:.2f}x, norm {norm:.2f}x{vm})")
    for side, meta in (("OLD", old_m), ("NEW", new_m)):
        if meta["errors"]:
            print(f"  {side} errors: {sorted(meta['errors'])}")
        if meta["flaky"]:
            print(f"  {side} flaky reps: {meta['flaky']}")

    if args.fail_on_regression and regs:
        sys.exit(1)


if __name__ == "__main__":
    main()
