#!/usr/bin/env python3
"""Self-test for bench_diff.py — run `python3 tools/bench_diff_selftest.py`;
exits 0 printing OK, nonzero with the failing assertion otherwise.

Covers the three load shapes (bench.json, wrapper with full line,
wrapper with front-truncated tail), the calib normalization direction,
the >=1s eligibility rule, the missing-calib raw fallback, and the
per-query medians over several runs per side — so an
edit to the comparator the round-over-round adjudication leans on
cannot silently invert a ratio or un-flag a regression.
"""

import json
import subprocess
import sys
import tempfile
import os

TOOL = os.path.join(os.path.dirname(__file__), "bench_diff.py")


def run(old, new, *args):
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fo, \
         tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fn:
        json.dump(old, fo)
        json.dump(new, fn)
        fo.flush(); fn.flush()
        p = subprocess.run(
            [sys.executable, TOOL, fo.name, fn.name, *args],
            capture_output=True, text=True)
    os.unlink(fo.name); os.unlink(fn.name)
    return p


def bench(queries, calib=None, errors=None, flaky=None):
    d = {"metric": "total", "value": sum(queries.values()), "unit": "sec",
         "queries": queries, "errors": errors or {}}
    if flaky is not None:
        d["flaky"] = flaky
    if calib is not None:
        d["calib_sec"] = calib
    d["sf"] = "/root/testdata/sf0.1"
    return d


def main():
    # 1. Host got 2x slower AND the query got 2x slower raw: normalized
    #    ratio must be ~1.0 — no flag. A second query genuinely 3x
    #    slower raw (1.5x normalized) at >=1s must flag REGRESSION.
    #    Only 3 common queries: the vs-median criterion must announce
    #    itself DISABLED (median over 3 entries is noise) and the rule
    #    fall back to calib-norm alone.
    old = bench({"steady": 2.0, "regressed": 2.0, "tiny": 0.2}, calib=0.1)
    new = bench({"steady": 4.0, "regressed": 6.0, "tiny": 0.6}, calib=0.2)
    p = run(old, new, "--fail-on-regression")
    assert p.returncode == 1, f"expected rc=1 on regression, got {p.returncode}\n{p.stdout}"
    assert "board too small" in p.stdout, p.stdout
    assert "REGRESSION regressed" in p.stdout, p.stdout
    assert "REGRESSION steady" not in p.stdout, \
        "host-drift-only move must not flag when normalized:\n" + p.stdout
    # tiny is 3x raw and 1.5x normalized but sub-second on both sides:
    # never flagged (jitter floor)
    assert "REGRESSION tiny" not in p.stdout, p.stdout
    assert "1 regression(s)" in p.stdout, p.stdout

    # 2. Same comparison without --fail-on-regression exits 0.
    p = run(old, new)
    assert p.returncode == 0, p.stdout + p.stderr

    # 3. Missing calib on one side: raw fallback with an explicit warning,
    #    and raw ratios flag (steady is 2x raw >= 1s).
    old_nc = bench({"steady": 2.0}, calib=None)
    p = run(old_nc, bench({"steady": 4.0}, calib=0.2))
    assert "WARNING" in p.stdout and "RAW" in p.stdout, p.stdout
    assert "REGRESSION steady" in p.stdout, p.stdout

    # 4. Driver wrapper with the FULL bench line embedded in the tail.
    inner = json.dumps(bench({"a": 1.5, "b": 0.3}, calib=0.1))
    wrapper = {"n": 12, "rc": 0, "cpus": 32, "sf": 0.1,
               "tail": "noise before\n" + inner + "\nbench json written\n"}
    p = run(wrapper, bench({"a": 1.5, "b": 0.3}, calib=0.1))
    assert "full line" in p.stdout, p.stdout
    assert "2 compared" in p.stdout, p.stdout

    # 5. Wrapper with a FRONT-TRUNCATED tail: recover pairs by regex,
    #    report PARTIAL, skip meta keys, pick up calib_sec, stop at
    #    "errors" so error text can't fake a timing.
    trunc = {"n": 13, "rc": 0, "cpus": 32,
             "tail": 'eavy": 9.99,"a":1.5,"b":0.3},'
                     '"errors":{"broken":"failed at 4.0"},'
                     '"calib_sec":0.1,"sf":"/root/testdata/sf0.1"}\n'}
    p = run(trunc, bench({"a": 3.0, "b": 0.3, "c": 1.0}, calib=0.1))
    assert "PARTIAL" in p.stdout, p.stdout
    # 'eavy' fragment and 'broken' (inside errors) must not be queries;
    # a/b recovered; c only in NEW
    assert "only in NEW (1): c" in p.stdout, p.stdout
    assert "broken" not in p.stdout.replace("errors", ""), p.stdout
    assert "REGRESSION a" in p.stdout, p.stdout  # 1.5 -> 3.0, same calib

    # 5b. Wrapper whose full bench line carries the sbt '[info] ' logger
    #     prefix (the verify recipe's own grep target): must still take
    #     the full-line path — not silently degrade to PARTIAL regex
    #     recovery and lose the errors/flaky maps.
    inner = json.dumps(bench({"a": 1.5, "b": 0.3}, calib=0.1,
                             flaky={"a": 1}))
    wrapper = {"n": 15, "rc": 0, "cpus": 32,
               "tail": "noise\n[info] " + inner + "\n[success] done\n"}
    p = run(wrapper, bench({"a": 1.5, "b": 0.3}, calib=0.1))
    assert "full line" in p.stdout, p.stdout
    assert "PARTIAL" not in p.stdout, p.stdout
    assert "flaky reps" in p.stdout, p.stdout

    # 5c. Truncated-tail recovery must anchor after '"queries":{' when
    #     the anchor survives: JSON-ish driver noise EARLIER in the tail
    #     (with its own "name":num pairs and a stray '"errors"') must
    #     neither fabricate a query timing nor cut off the real map.
    noisy = {"n": 15, "rc": 0,
             "tail": '{"level":"warn","latency":0.5,"errors":"disk"}\n'
                     'ic":"total","value":1.8,"unit":"sec",'
                     '"queries":{"a":1.5,"b":0.3},"errors":{},'
                     '"calib_sec":0.1,"sf":"/root/testdata/sf0.1"}\n'}
    p = run(noisy, bench({"a": 1.5, "b": 0.3}, calib=0.1))
    assert "PARTIAL" in p.stdout, p.stdout
    assert "2 compared" in p.stdout, p.stdout  # a and b, nothing else
    assert "latency" not in p.stdout, \
        "noise line fabricated a query timing:\n" + p.stdout
    assert "calib_sec: old=0.1" in p.stdout, p.stdout

    # 5d. JSON-ish noise AFTER the real bench line that itself contains
    #     '"queries":{' must not hijack the anchor: the anchor that
    #     recovers the most timings wins.
    hijack = {"n": 15, "rc": 0,
              "tail": 'ic":"total","value":1.8,"unit":"sec",'
                      '"queries":{"a":1.5,"b":0.3,"d":2.0},"errors":{},'
                      '"calib_sec":0.1,"sf":"/sf"}\n'
                      '{"event":"shutdown","queries":{"pending":0}}\n'}
    p = run(hijack, bench({"a": 1.5, "b": 0.3, "d": 2.0}, calib=0.1))
    assert "3 compared" in p.stdout, p.stdout
    assert "pending" not in p.stdout, \
        "trailing noise anchor hijacked the real queries map:\n" + p.stdout

    # 5e. Tail front-truncated INSIDE the real queries map (its anchor
    #     clipped away) with trailing noise that DOES contain
    #     '"queries":{': the whole-tail scan must stay in the running and
    #     beat the noise anchor, or the real clipped timings are silently
    #     discarded in favor of the noise's.
    clipped = {"n": 16, "rc": 0,
               "tail": '"q_mid1":1.5,"q_mid2":0.3,"q_mid3":2.0},'
                       '"errors":{},"calib_sec":0.1,"sf":"/sf"}\n'
                       '{"event":"shutdown","queries":{"pending":0}}\n'}
    p = run(clipped, bench({"q_mid1": 1.5, "q_mid2": 0.3, "q_mid3": 2.0},
                           calib=0.1))
    assert "3 compared" in p.stdout, p.stdout
    assert "pending" not in p.stdout, \
        "noise anchor beat the clipped real map:\n" + p.stdout

    # 5f. Calib and median DISAGREE, median wins: nine queries all
    #     exactly 2.0x raw while calib claims the host is SAME speed (a
    #     mis-measured calib — round 16's failure mode). Under the old
    #     norm-only rule every >=1s entry flagged; with the board-median
    #     criterion in the rule (vs-median 1.00x = the board moved
    #     together) NONE may flag, and the median line must say 2.000 so
    #     the adjudicator sees why.
    old = bench({"a": 2.0, "b": 1.5, "c": 1.2, "d": 3.0, "e": 0.4,
                 "f": 1.1, "g": 1.8, "h": 2.2, "i": 1.4}, calib=0.1)
    new = bench({"a": 4.0, "b": 3.0, "c": 2.4, "d": 6.0, "e": 0.8,
                 "f": 2.2, "g": 3.6, "h": 4.4, "i": 2.8}, calib=0.1)
    p = run(old, new)
    assert "board-median raw ratio: 2.000" in p.stdout, p.stdout
    assert "0 regression(s)" in p.stdout, \
        "board-wide drift must not flag when the median disagrees with calib:\n" + p.stdout
    assert "norm > 1.2x AND vs-median > 1.1x" in p.stdout, p.stdout

    # 5g. Same wide board, one query GENUINELY slower: both opinions
    #     agree (norm 2.0 > 1.2, vs-median 2.0 > 1.1) — exactly that
    #     query flags, and its summary line prints both numbers.
    old = bench({"a": 2.0, "b": 1.5, "c": 1.2, "d": 3.0, "e": 0.4,
                 "f": 1.1, "g": 1.8, "h": 2.2, "bad": 2.0}, calib=0.1)
    new = bench({"a": 2.0, "b": 1.5, "c": 1.2, "d": 3.0, "e": 0.4,
                 "f": 1.1, "g": 1.8, "h": 2.2, "bad": 4.0}, calib=0.1)
    p = run(old, new, "--fail-on-regression")
    assert p.returncode == 1, p.stdout
    assert "1 regression(s)" in p.stdout, p.stdout
    assert "REGRESSION bad" in p.stdout, p.stdout
    assert "vs-median 2.00x" in p.stdout, p.stdout

    # 7. --bands: the band rule REPLACES the ratio rules for banded
    #    queries. A banded oscillator at its crest (norm 1.4x — the old
    #    rule would flag) whose rescaled NEW time sits inside [lo, hi]
    #    must NOT flag; the same query beyond hi must flag REGRESSION;
    #    below lo must report IMPROVED; unbanded queries keep the ratio
    #    rules untouched. Band units rescale by anchor/new calib: run at
    #    calib 0.2 vs anchor 0.1 means raw seconds halve in band units.
    def with_bands(old, new, bands, *args):
        with tempfile.NamedTemporaryFile("w", suffix=".json",
                                         delete=False) as fb:
            json.dump(bands, fb)
            fb.flush()
            p = run(old, new, "--bands", fb.name, *args)
        os.unlink(fb.name)
        return p

    bandfile = {"calib_sec": 0.1, "bands": {"osc": [1.2, 1.7]}}
    wide = {"b": 1.5, "c": 1.2, "d": 3.0, "e": 0.4, "f": 1.1,
            "g": 1.8, "h": 2.2, "i": 1.4, "j": 2.0}
    # crest: 1.25 -> 1.65, norm 1.32x — ratio rule would flag; in band -> no flag
    p = with_bands(bench(dict(wide, osc=1.25), calib=0.1),
                   bench(dict(wide, osc=1.65), calib=0.1),
                   bandfile, "--fail-on-regression")
    assert p.returncode == 0, "in-band oscillator crest must not flag:\n" + p.stdout
    assert "in-band(1.20-1.70@1.65)" in p.stdout, p.stdout
    assert "0 regression(s)" in p.stdout, p.stdout
    # beyond the envelope: 1.25 -> 1.85 > hi -> REGRESSION
    p = with_bands(bench(dict(wide, osc=1.25), calib=0.1),
                   bench(dict(wide, osc=1.85), calib=0.1),
                   bandfile, "--fail-on-regression")
    assert p.returncode == 1, "beyond-band move must flag:\n" + p.stdout
    assert "REGRESSION(>band 1.20-1.70@1.85)" in p.stdout, p.stdout
    # below lo -> IMPROVED; and an unbanded genuine regression still flags
    p = with_bands(bench(dict(wide, osc=1.60, j=2.0), calib=0.1),
                   bench(dict(wide, osc=0.9, j=4.0), calib=0.1),
                   bandfile)
    assert "IMPROVED(<band 1.20-1.70@0.90)" in p.stdout, p.stdout
    assert "REGRESSION j" in p.stdout, \
        "unbanded ratio rule must survive --bands:\n" + p.stdout
    # calib rescale: new host 2x slower (calib 0.2 vs anchor 0.1) — raw
    # 3.0s is 1.5 in anchor units, inside the band -> no flag
    p = with_bands(bench(dict(wide, osc=1.4), calib=0.1),
                   bench(dict(wide, osc=3.0), calib=0.2),
                   bandfile, "--fail-on-regression")
    assert "in-band(1.20-1.70@1.50)" in p.stdout, p.stdout

    # 6. Errored queries (-1 sec) are excluded from comparison.
    p = run(bench({"a": 1.0, "dead": -1.0}, calib=0.1),
            bench({"a": 1.0, "dead": 2.0}, calib=0.1))
    assert "only in NEW (1): dead" in p.stdout, p.stdout

    # 7. Two runs per side whose order disagrees: each side is faster
    #    when it runs first (10 s first, 13 s second). Each single pair
    #    flags the opposite way; the per-query medians over both runs
    #    (comma-joined files) flag nothing, and calib is each side's median.
    first, second = bench({"q": 10.0}, calib=0.1), bench({"q": 13.0}, calib=0.1)
    assert "REGRESSION q" in run(first, second).stdout
    assert "IMPROVED" in run(second, first).stdout
    paths = []
    for d in (first, second, second, first, bench({"q": 1.0}, calib=0.4)):
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(d, f)
            paths.append(f.name)
    p = subprocess.run([sys.executable, TOOL, ",".join(paths[:2]), ",".join(paths[2:4]),
                        "--fail-on-regression"], capture_output=True, text=True)
    assert p.returncode == 0, p.stdout + p.stderr
    assert "median of 2 runs" in p.stdout and "0 regression(s)" in p.stdout \
        and "0 improved" in p.stdout, p.stdout
    p = subprocess.run([sys.executable, TOOL, ",".join(paths[:3]), paths[4]],
                       capture_output=True, text=True)
    assert "calib_sec: old=0.1000  new=0.4000" in p.stdout, p.stdout
    for f in paths:
        os.unlink(f)

    print("bench_diff selftest OK")


if __name__ == "__main__":
    main()
