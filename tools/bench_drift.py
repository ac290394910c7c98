#!/usr/bin/env python3
"""Noise-vs-regression discriminator over two bench artifacts
(VERDICT r13 item 2 — the t15 phantom: a 2.7x median swing on
byte-identical code cost round 12's top priority slot).

THE RULE: a per-query median move counts as a REGRESSION only if the
new median lies OUTSIDE the old artifact's [min, max] spread band
(and vice versa for an improvement). Medians that land inside the
other round's observed band are ambient noise by the artifact's own
evidence and must not drive plan work.

Usage:  python3 tools/bench_drift.py OLD.json NEW.json
            [--thresh 1.15] [--min-delta 0.15]

r19 (VERDICT r18 item 6): rows with a sub-second median on either
side gate on MIN-vs-band instead of median-vs-band — ambient load
only adds time, so "every new run slower than every old run" is the
robust signal at the noise floor; the binding bench also collects 5
samples (not 3) for those rows so the bands mean something.
Exits 0 always (report tool, not a gate); prints one line per query
classified REGRESSION / IMPROVEMENT, and a summary. --thresh adds a
minimum ratio on top of the band test so sub-noise-floor wiggles on
10 ms queries don't print; --min-delta additionally requires the
median move to exceed an ABSOLUTE number of seconds (r15 tuning: the
first real spread-vs-spread run, r14-vs-r15, band-separated 16
untouched sub-second plans at 1.2-1.4x in BOTH directions — 3-run
bands are just too tight to absorb an ambient shift on fast queries;
the 0.15 s floor cut those 16 false flags to 5 while a t15-style
2.7x phantom, 1.1 s of movement, would still print).
"""
import json, sys

def load(p):
    with open(p) as f:
        return json.load(f)

def main():
    raw = sys.argv[1:]
    args, thresh, min_delta, skip = [], 1.15, 0.15, False
    for i, a in enumerate(raw):
        if skip:
            skip = False
            continue
        if a.startswith("--thresh"):
            if "=" in a:
                thresh = float(a.split("=", 1)[1])
            else:
                thresh = float(raw[i + 1])
                skip = True
        elif a.startswith("--min-delta"):
            if "=" in a:
                min_delta = float(a.split("=", 1)[1])
            else:
                min_delta = float(raw[i + 1])
                skip = True
        else:
            args.append(a)
    old, new = load(args[0]), load(args[1])
    os, ns = old.get("spread", {}), new.get("spread", {})
    if not os or not ns:
        print("NOTE: one artifact lacks 'spread' fields (pre-r14); "
              "falling back to medians only — band test unavailable")
    # catalog rows AND index-split rows (both carry spread since r14)
    def rows(d):
        return {**d.get("queries", {}), **d.get("ann_split", {})}
    orows, nrows = rows(old), rows(new)
    # rows that threw are absent from "queries"; name them, never skip
    for q in new.get("failed", []):
        print(f"FAILED      {q}: no timing in the new artifact")
    n_reg = n_imp = n_sub = 0
    for q in sorted(set(orows) & set(nrows)):
        om, nm = orows[q], nrows[q]
        if om <= 0 or nm <= 0:
            continue
        oband = (os.get(q, {}).get("min", om), os.get(q, {}).get("max", om))
        nband = (ns.get(q, {}).get("min", nm), ns.get(q, {}).get("max", nm))
        if om < 1.0 or nm < 1.0:
            # sub-second rows gate on MIN-vs-band (r19, VERDICT r18
            # item 6): ambient load only ever ADDS time, so the min is
            # the statistic least sensitive to it — a row is a
            # regression only when its FASTEST new run is slower than
            # every old run (and vice versa). Medians on these rows
            # band-separated ~20 untouched plans per round on the
            # box's measured 27% same-code spread.
            band_sep_reg = (nband[0] > oband[1]
                            and nband[0] / max(oband[0], 1e-9) >= thresh)
            band_sep_imp = (nband[1] < oband[0]
                            and oband[0] / max(nband[1], 1e-9) >= thresh)
        else:
            band_sep_reg = nm > oband[1] and om < nband[0] and nm / om >= thresh
            band_sep_imp = nm < oband[0] and om > nband[1] and om / nm >= thresh
        # without real spread data the "bands" above degenerate to the
        # medians themselves and band-separation is vacuous — never
        # print the band-separated label off the pre-r14 fallback
        has_bands = q in os and q in ns
        if abs(nm - om) < min_delta:
            # ADVICE r15: a band-separated move under the absolute
            # floor must not vanish silently — a genuine 50ms -> 200ms
            # (4x) regression on a fast query is real information even
            # when it can't drive plan work on its own. Label, count,
            # don't promote.
            if has_bands and (band_sep_reg or band_sep_imp):
                kind = "reg" if band_sep_reg else "imp"
                print(f"sub-delta   {q}: {om:.3f}s -> {nm:.3f}s  "
                      f"({max(nm/om, om/nm):.2f}x {kind}, band-separated "
                      f"but |delta| < {min_delta}s — not promoted)")
                n_sub += 1
            continue
        if band_sep_reg:
            print(f"REGRESSION  {q}: {om:.3f}s [{oband[0]:.3f},{oband[1]:.3f}] "
                  f"-> {nm:.3f}s [{nband[0]:.3f},{nband[1]:.3f}]  ({nm/om:.2f}x)")
            n_reg += 1
        elif band_sep_imp:
            print(f"IMPROVEMENT {q}: {om:.3f}s -> {nm:.3f}s  ({om/nm:.2f}x)")
            n_imp += 1
    print(f"bench_drift: {n_reg} regressions, {n_imp} improvements, "
          f"{n_sub} sub-delta band-separated moves "
          f"(band-separated, ratio >= {thresh}, |delta| >= {min_delta}s); "
          f"everything else is inside the other round's spread = noise")

if __name__ == "__main__":
    main()
