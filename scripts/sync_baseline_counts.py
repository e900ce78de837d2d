#!/usr/bin/env python
"""Regenerate machine-derived statistics embedded in BASELINE.md.

Two classes of drift this prevents (both were review findings):
* the pytest count was hand-synced and drifted from the real suite size
  (round 3) — now derived from pytest's own collector;
* the marginal-scaling normalized efficiency was hand-copied into three
  places with three different values (round 4) — now every scaling/deep
  statistic quoted in BASELINE.md renders from the machine-readable
  summaries that the bench scripts write (BENCH/scaling_summary.json,
  BENCH/deep_summary.json), inside marked generated blocks.

Run after adding tests or re-running benches:
    python scripts/sync_baseline_counts.py
"""

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _replace_block(text: str, name: str, body: str) -> str:
    begin = f"<!-- generated:{name}:begin -->"
    end = f"<!-- generated:{name}:end -->"
    if begin not in text:
        return text
    pat = re.compile(re.escape(begin) + r".*?" + re.escape(end), re.DOTALL)
    return pat.sub(begin + "\n" + body.strip() + "\n" + end, text)


def scaling_block() -> str | None:
    path = os.path.join(REPO, "BENCH", "scaling_summary.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        s = json.load(f)
    n = s["n"]
    lines = [
        f"Scaling page ({s['n_docs']:,} docs, local[{n}] → "
        f"local[{4 * n}]; measured ceilings "
        f"{s['hw_ceiling_cpu']:.2f} CPU / "
        f"{s['hw_ceiling_membw']:.2f} memory-bus; generated "
        f"{s['generated']}):",
        "",
        f"| phase | unit | local[{n}] | local[{4 * n}] | "
        "efficiency (raw) | / CPU ceiling |",
        "|---|---|---|---|---|---|",
    ]
    for p in s["phases"]:
        lines.append(
            f"| {p['label']} | {p['unit']} | {p['thr_lo']:,.1f} | "
            f"{p['thr_hi']:,.1f} | {p['eff_raw']:.2f} | "
            f"{p['eff_norm']:.2f} |")
    if s.get("kernel_attribution"):
        lines += [
            "",
            "Kernel attribution (sampled in-kernel cpu-seconds; "
            "eff = kernel-inflation⁻¹ × occupancy ratio — see "
            "BENCH/BASELINE.md for the method):",
            "",
            "| phase | kernel inflation at 4N | occ N → 4N | "
            "implied eff |",
            "|---|---|---|---|",
        ]
        for a in s["kernel_attribution"]:
            lines.append(
                f"| {a['label']} | {a['kernel_inflation']:.2f}× | "
                f"{a['occ_lo']:.2f} → {a['occ_hi']:.2f} | "
                f"{a['implied_eff']:.2f} |")
    return "\n".join(lines)


_DEEP_BLURB = {
    "deep8": "the crossover's LEFT side: rare+5-dense queries over "
             "125k-posting per-range lists — since the grouped numpy "
             "scorer (round 5) the vectorized scan wins this shallow "
             "multi-term shape, which is why search_fast is the default",
    "ranges1024": "the MANY-RANGES regime θ seeding serves: selective "
                  "rare(df~10)+dense queries, rare term absent from "
                  "~99% of ranges",
    "deep8m": "the 10^12-doc DEPTH sizing: 8M docs / 8 ranges → "
              "per-range dense lists of ~2×10^5 postings, rare + ONE "
              "dense head word per query (the crossover probe's exact "
              "shape, ~5× kernel gap measured)",
}


def deep_block() -> str | None:
    path = os.path.join(REPO, "BENCH", "deep_summary.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        d = json.load(f)
    configs = d["configs"] if "configs" in d else {"deep8": d}
    lines = []
    for cname in sorted(configs):
        c = configs[cname]
        lines += [
            f"Deep-list end-to-end `{cname}` ({c['n_docs']:,} docs, "
            f"{c['n_ranges']} ranges × {c['range_width']:,}-doc width, "
            f"{c['n_queries']} queries, k={c['k']}, "
            f"local[{c['cpus']}]; best-of reps, identical result rows "
            f"asserted across contenders) — "
            f"{_DEEP_BLURB.get(cname, '')}:",
            "",
            "| path | wall s | q/s | blocks decoded (sampled) | "
            "blocks skipped (sampled) |",
            "|---|---|---|---|---|",
        ]
        for name, p in c["phases"].items():
            lines.append(
                f"| {name} | {p['wall_s']} | {p['qps']:,} | "
                f"{p['blocks_decoded_sampled']:,} | "
                f"{p['blocks_skipped_sampled']:,} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    path = os.path.join(REPO, "BASELINE.md")
    with open(path) as f:
        text = f.read()

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "tests/"],
        cwd=REPO, capture_output=True, text=True)
    m = re.search(r"(\d+) tests collected", out.stdout)
    if not m:
        raise SystemExit(f"could not parse pytest collector output:\n"
                         f"{out.stdout[-2000:]}")
    n = int(m.group(1))
    text = re.sub(r"\d+ pytest green", f"{n} pytest green", text)
    print(f"BASELINE.md: {n} pytest green")

    for name, body in (("scaling", scaling_block()),
                       ("deep", deep_block())):
        if body is not None:
            before = text
            text = _replace_block(text, name, body)
            if text != before:
                print(f"BASELINE.md: regenerated {name} block")

    with open(path, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
