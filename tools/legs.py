#!/usr/bin/env python3
"""Read graft.Bench legs: the one reader of the runner's JSON.

A leg is the full JSON line `runMain graft.Bench [query ...]` writes to
target/bench.json (a full run also to tools/bench_full.json): per-query
seconds under "queries", in run order, and the contention probes under
"calib_windows" as [[queries_done, probe_s], ...].

Every reading goes through ONE normalization, the bracketing-probe rule
the runner's own regression flags use: a query's seconds are scaled by
PROBE_BASE / (mean of the two probes bracketing its window), so a
contention wave that hits one leg's window divides out instead of
masquerading as code movement. Medians across legs then drop whatever a
wave still caught.

    legs.py decade <growth> <small.json,...> <big.json,...>
        scaling table: per-query median small vs big, superlinear list
    legs.py compare --before <leg.json ...> --after <leg.json ...> [query ...]
        per-query medians before vs after, raw and normalized; sums run
        over the queries both sides share
    legs.py pin <reference.txt> <leg.json ...>
        re-pin the reference entries present in every leg to the median
        of (the current pin, each leg's reading normalized onto the
        reference's __calib__); rewrites the file in place
    legs.py scale <growth> <small.json> <big.json> <small_metrics.json> <big_metrics.json>
        paired-scale table with shuffle and spill MB from the runner's
        target/bench_metrics.json sidecars

Each subcommand takes --selftest instead of its arguments.
"""
import contextlib
import io
import json
import os
import statistics
import sys
import tempfile

PROBE_BASE = 0.25  # the host's historical clean-probe band (BASELINE.md)


def local_calib(windows, i):
    """Mean of the probes bracketing the window of the i-th query run."""
    before = [c for (q, c) in windows if q <= i]
    after = [c for (q, c) in windows if q > i]
    b = before[-1] if before else windows[0][1]
    a = after[0] if after else b
    return (a + b) / 2


def load(path):
    """-> ({query: raw seconds}, {query: local probe seconds})"""
    with open(path) as f:
        leg = json.load(f)
    if leg.get("queries_truncated"):
        sys.exit(f"{path}: the compact stdout line carries a top-N subset; "
                 "read the full map it names")
    if not leg.get("calib_windows"):
        sys.exit(f"{path}: no calib_windows (not a graft.Bench leg?)")
    raw = leg["queries"]
    # run order: a full run is sorted by name, a named run keeps its order
    calib = {n: local_calib(leg["calib_windows"], i) for i, n in enumerate(raw)}
    return raw, calib


def normalized(path, base=PROBE_BASE):
    raw, calib = load(path)
    return {n: t * base / calib[n] for n, t in raw.items()}


def medians(paths, base=PROBE_BASE):
    """-> {query: (median normalized seconds, number of legs with it)}"""
    samples = {}
    for p in paths:
        for q, t in normalized(p, base).items():
            samples.setdefault(q, []).append(t)
    return {q: (statistics.median(ts), len(ts)) for q, ts in samples.items()}


def decade(growth, small_paths, big_paths):
    s, b = medians(small_paths), medians(big_paths)
    rows = sorted(((q, s[q], b[q]) for q in s if q in b),
                  key=lambda r: -(r[2][0] / r[1][0] if r[1][0] > 0 else float("inf")))
    if not rows:
        sys.exit("decade: the small and big legs share no query names")

    # rep counts differ per query when a leg ran a shorter list
    def reps(k):
        ks = sorted({r[k][1] for r in rows})
        return str(ks[0]) if len(ks) == 1 else f"{ks[0]}-{ks[-1]}"
    print(f"| query | small s (med/{reps(1)}) | big s (med/{reps(2)}) "
          f"| time x ({growth}x data) |")
    print("|---|---|---|---|")
    over = []
    for q, (sm, _), (bm, _) in rows:
        x = bm / sm if sm > 0 else float("inf")
        print(f"| `{q}` | {sm:.2f} | {bm:.2f} | {x:.2f} |")
        if x > growth and bm > 1.0:
            over.append(q)
    print(f"\nsuperlinear (> {growth}x AND >1s at the big leg): {over}")


def compare(before_paths, after_paths, watch):
    def meds(paths):
        legs = [load(p) for p in paths]
        keys = set.intersection(*(set(raw) for raw, _ in legs))
        raw = {k: statistics.median([r[k] for r, _ in legs]) for k in keys}
        cal = {k: statistics.median([r[k] * PROBE_BASE / c[k] for r, c in legs])
               for k in keys}
        return raw, cal
    braw, bcal = meds(before_paths)
    araw, acal = meds(after_paths)
    common = sorted(set(braw) & set(araw))
    one_side = sorted(set(braw) ^ set(araw))
    print(f"{'query':40s} {'before':>8s} {'after':>8s} {'raw x':>6s}   "
          f"{'b-cal':>8s} {'a-cal':>8s} {'cal x':>6s}")
    for q in watch or common:
        if q not in common:
            continue
        rr = araw[q] / braw[q] if braw[q] else float("nan")
        cr = acal[q] / bcal[q] if bcal[q] else float("nan")
        print(f"{q:40s} {braw[q]:8.2f} {araw[q]:8.2f} {rr:6.2f}   "
              f"{bcal[q]:8.2f} {acal[q]:8.2f} {cr:6.2f}")
    if one_side:
        print(f"\n[excluded from sums — present on one side only] {one_side}")
    tb, ta = sum(braw[k] for k in common), sum(araw[k] for k in common)
    cb, ca = sum(bcal[k] for k in common), sum(acal[k] for k in common)
    print(f"\nsum-of-medians raw {tb:.1f} -> {ta:.1f} ({ta / tb:.3f}x); "
          f"calibrated {cb:.1f} -> {ca:.1f} ({ca / cb:.3f}x)  "
          f"[n={len(common)} common queries]")


def read_pins(path):
    pins = {}
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) == 2 and not line.startswith("#"):
                pins[parts[0]] = float(parts[1])
    return pins


def pin(ref_path, leg_paths):
    pins = read_pins(ref_path)
    ref_calib = pins.get("__calib__")
    if not ref_calib:
        sys.exit(f"{ref_path}: no __calib__ pin")
    legs = [normalized(p, ref_calib) for p in leg_paths]
    names = sorted(set.intersection(*(set(l) for l in legs)) & set(pins) - {"__calib__"})
    rows = []
    for n in names:
        samples = [pins[n]] + [l[n] for l in legs]
        rows.append((n, pins[n], samples[1:], statistics.median(samples)))
    new = {n: med for n, _, _, med in rows}
    with open(ref_path) as f:
        lines = f.read().splitlines()
    out = []
    for line in lines:
        parts = line.split()
        if len(parts) == 2 and parts[0] in new and not line.startswith("#"):
            out.append(f"{parts[0]} {new[parts[0]]}")
        else:
            out.append(line)
    with open(ref_path, "w") as f:
        f.write("\n".join(out) + "\n")
    print("| entry | old pin | normalized legs | new pin |")
    print("|---|---|---|---|")
    for n, old, rest, med in rows:
        rr = " / ".join(f"{x:.2f}" for x in rest)
        print(f"| `{n}` | {old:.3f} | {rr} | **{med:.3f}** |")


def scale(growth, small_path, big_path, small_metrics, big_metrics):
    s, b = normalized(small_path), normalized(big_path)
    with open(small_metrics) as f:
        m0 = json.load(f)
    with open(big_metrics) as f:
        m1 = json.load(f)
    rows = []
    for k in sorted(s):
        if k not in b:
            continue
        t0, t1 = s[k], b[k]
        ratio = t1 / t0 if t0 > 0.05 else float("nan")
        s0 = m0.get(k, {}).get("shuffle_read_mb", 0.0)
        s1 = m1.get(k, {}).get("shuffle_read_mb", 0.0)
        srat = s1 / s0 if s0 > 0.5 else None
        rows.append((k, t0, t1, ratio, s0, s1, srat, m1.get(k, {}).get("spill_disk_mb", 0.0)))
    if not rows:
        sys.exit("scale: the small and big legs share no query names")
    rows.sort(key=lambda r: -(r[3] if r[3] == r[3] else 0))
    tot0, tot1 = sum(r[1] for r in rows), sum(r[2] for r in rows)
    print(f"paired queries: {len(rows)}  total small {tot0:.1f}s  big {tot1:.1f}s  "
          f"ratio {tot1 / tot0:.2f}x at {growth:g}x data (normalized to {PROBE_BASE} s probe)")
    over = [r[0] for r in rows if r[3] == r[3] and r[3] > growth and r[2] > 1.0]
    print(f"superlinear (> {growth:g}x time AND >1s at the big leg): {over}")
    print(f"flat (<=2x): {sum(1 for r in rows if r[3] == r[3] and r[3] <= 2.0)} queries")
    print()
    print("| query | small s | big s | time x | shuf small MB | shuf big MB | shuf x | spill big MB |")
    print("|---|---|---|---|---|---|---|---|")
    for k, t0, t1, ratio, s0, s1, srat, sp1 in rows:
        sr = f"{srat:.1f}" if srat else "—"
        print(f"| {k} | {t0:.2f} | {t1:.2f} | {ratio:.1f} | {s0:.1f} | {s1:.1f} | {sr} | {sp1:.0f} |")


# ---------------------------------------------------------------- selftests
# These scripts decide which numbers get pinned as the grading reference,
# so each subcommand round-trips synthetic legs through its real code.

def _leg(d, name, queries, windows):
    p = os.path.join(d, name)
    with open(p, "w") as f:
        json.dump({"queries": queries, "calib_windows": windows}, f)
    return p


def _run(fn, *args):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        fn(*args)
    return out.getvalue()


def _aborts(fn, *args, says):
    try:
        _run(fn, *args)
    except SystemExit as e:
        assert says in str(e.code), e.code
        return
    raise AssertionError(f"{fn.__name__} did not abort ({says})")


def _calib_less(d):
    p = os.path.join(d, "calibless.json")
    with open(p, "w") as f:
        json.dump({"queries": {"qa": 1.0}}, f)
    return p


def selftest_decade(d):
    flat = [[0, 0.25], [2, 0.25]]
    # qa: small medians 2.0 (1.0, 3.0), big 10.0 -> 5.0x at 3x = superlinear;
    # qb runs second, inside a wave only its own window saw (probe 0.75
    # after it): 2.0 @ mean(0.25, 0.75) = 0.5 normalizes to 1.0
    s1 = _leg(d, "s1.json", {"qa": 1.0, "qb": 2.0}, [[0, 0.25], [1, 0.25], [2, 0.75]])
    s2 = _leg(d, "s2.json", {"qa": 3.0, "qb": 1.0}, flat)
    b1 = _leg(d, "b1.json", {"qa": 10.0, "qb": 2.0}, flat)
    b2 = _leg(d, "b2.json", {"qa": 10.0, "qb": 6.0}, [[0, 0.25], [1, 0.25], [2, 0.75]])
    got = _run(decade, 3.0, [s1, s2], [b1, b2])
    assert "| `qa` | 2.00 | 10.00 | 5.00 |" in got, got
    assert "| `qb` | 1.00 | 2.50 | 2.50 |" in got, got
    assert "superlinear (> 3.0x AND >1s at the big leg): ['qa']" in got, got
    # aborted leg: qb missing from one small leg -> rep range "1-2"
    s3 = _leg(d, "s3.json", {"qa": 2.0}, [[0, 0.25], [1, 0.25]])
    got = _run(decade, 3.0, [s1, s3], [b1])
    assert "(med/1-2)" in got, got
    assert "| `qb` | 1.00 |" in got, got  # qb still rides its 1 sample
    # empty intersection must exit loudly, never print an empty table
    sx = _leg(d, "sx.json", {"qx": 1.0}, flat)
    _aborts(decade, 3.0, [sx], [b1], says="share no query names")
    _aborts(decade, 3.0, [_calib_less(d)], [b1], says="no calib_windows")


def selftest_compare(d):
    # a probe at 0.5 = 2x the 0.25 base -> normalized readings halve
    raw, calib = load(_leg(d, "c.json", {"a": 1.0, "b": 2.0}, [[0, 0.5], [2, 0.5]]))
    assert raw == {"a": 1.0, "b": 2.0} and calib == {"a": 0.5, "b": 0.5}
    # middle leg wavy: the raw median moves with the wave, the
    # calibrated median does not
    before = [_leg(d, f"w{i}.json", {"q": t, "x": 1.0, "only_b": 9.0}, [[0, p], [2, p]])
              for i, (p, t) in enumerate([(0.25, 1.0), (0.75, 3.0), (0.25, 1.0)])]
    after = [_leg(d, "after.json", {"q": 1.0, "x": 1.0}, [[0, 0.25], [2, 0.25]])]
    got = _run(compare, before, after, [])
    line = next(l for l in got.splitlines() if l.startswith("q "))
    assert line.split()[1:] == ["1.00", "1.00", "1.00", "1.00", "1.00", "1.00"], line
    # symmetric sums: a query on one side only must not inflate the ratio
    assert "present on one side only] ['only_b']" in got, got
    assert "[n=2 common queries]" in got, got
    _aborts(compare, [_calib_less(d)], after, [], says="no calib_windows")


def selftest_pin(d):
    ref = os.path.join(d, "ref.txt")
    with open(ref, "w") as f:
        f.write("# comment line survives\n")
        f.write("__calib__ 0.5\n")
        f.write("s1 4.0\n")          # legs 8.0@1.0 -> 4.0, 2.0@0.5 -> 2.0: median(4,4,2) = 4.0
        f.write("s2 6.0\n")          # legs 2.0@1.0 -> 1.0, 2.0@0.5 -> 2.0: median(6,1,2) = 2.0
        f.write("untouched 1.25\n")  # absent from the legs: pin carries verbatim
    r1 = _leg(d, "r1.json", {"s1": 8.0, "s2": 2.0}, [[0, 1.0], [2, 1.0]])
    r2 = _leg(d, "r2.json", {"s1": 2.0, "s2": 2.0}, [[0, 0.5], [2, 0.5]])
    got = _run(pin, ref, [r1, r2])
    pins = read_pins(ref)
    assert pins == {"__calib__": 0.5, "s1": 4.0, "s2": 2.0, "untouched": 1.25}, pins
    with open(ref) as f:
        assert "# comment line survives" in f.read()
    assert "| `s1` | 4.000 |" in got and "**4.000**" in got, got
    assert "| `s2` | 6.000 |" in got and "**2.000**" in got, got
    # a calib-less leg must abort, not silently pin
    _aborts(pin, ref, [_calib_less(d)], says="no calib_windows")
    # a ref without a __calib__ pin must abort before touching anything
    noref = os.path.join(d, "noref.txt")
    with open(noref, "w") as f:
        f.write("s1 4.0\n")
    _aborts(pin, noref, [r1], says="__calib__")
    with open(noref) as f:
        assert f.read() == "s1 4.0\n"


def selftest_scale(d):
    small = _leg(d, "sm.json", {"a": 1.0, "b": 2.0}, [[0, 0.25], [2, 0.25]])
    # the big leg ran under a 2x probe: normalized a = 15.0 / 2 = 7.5 (7.5x),
    # b = 4.0 / 2 = 2.0 (1.0x, flat)
    big = _leg(d, "bg.json", {"a": 15.0, "b": 4.0}, [[0, 0.5], [2, 0.5]])
    m0 = os.path.join(d, "m0.json")
    m1 = os.path.join(d, "m1.json")
    with open(m0, "w") as f:
        json.dump({"a": {"shuffle_read_mb": 2.0}}, f)
    with open(m1, "w") as f:
        json.dump({"a": {"shuffle_read_mb": 20.0, "spill_disk_mb": 3.0}}, f)
    got = _run(scale, 5.0, small, big, m0, m1)
    assert "| a | 1.00 | 7.50 | 7.5 | 2.0 | 20.0 | 10.0 | 3 |" in got, got
    assert "superlinear (> 5x time AND >1s at the big leg): ['a']" in got, got
    assert "flat (<=2x): 1 queries" in got, got
    other = _leg(d, "ot.json", {"z": 1.0}, [[0, 0.25], [1, 0.25]])
    _aborts(scale, 5.0, small, other, m0, m1, says="share no query names")
    _aborts(scale, 5.0, _calib_less(d), big, m0, m1, says="no calib_windows")


SELFTESTS = {"decade": selftest_decade, "compare": selftest_compare,
             "pin": selftest_pin, "scale": selftest_scale}


def main(argv):
    if not argv or argv[0] not in SELFTESTS:
        sys.exit(__doc__)
    sub, args = argv[0], argv[1:]
    if args == ["--selftest"]:
        SELFTESTS[sub](tempfile.mkdtemp(prefix=f"legs_{sub}_"))
        print(f"legs.py {sub} selftest: PASS")
    elif sub == "decade" and len(args) == 3:
        decade(float(args[0]), args[1].split(","), args[2].split(","))
    elif sub == "compare" and "--before" in args and "--after" in args:
        i, j = args.index("--before"), args.index("--after")
        if i > j:
            sys.exit(__doc__)
        before, rest = args[i + 1:j], args[j + 1:]
        after = [a for a in rest if a.endswith(".json")]
        watch = [a for a in rest if not a.endswith(".json")]
        if not before or not after:
            sys.exit(__doc__)
        compare(before, after, watch)
    elif sub == "pin" and len(args) >= 2:
        pin(args[0], args[1:])
    elif sub == "scale" and len(args) == 5:
        scale(float(args[0]), *args[1:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
