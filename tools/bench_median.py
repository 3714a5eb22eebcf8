"""Median-of-3 A/B bench protocol (the round-8 measurement rule).

Single same-round bench pairs proved noisier than the effect being
measured: the five r7 pairs spanned 0.85-1.18 with per-query swings of
2x+ on dim-sized entries (pure scheduler/GC timing, not plan changes).
This driver runs THREE full interleaved pairs back-to-back on an
otherwise idle machine —

    spark#1, duck#1, spark#2, duck#2, spark#3, duck#3

— each run a fresh process (fresh JVM / fresh DuckDB), and commits the
PER-QUERY MEDIAN across the three runs as THE number for the round.
Interleaving means any slow machine phase (kernel page-cache churn,
thermal state) hits both engines, not one.

Outputs, under tools/digests/, only for a full-catalog run given
``--tag TAG`` (an untagged run prints the digest and writes nothing):

- BENCH_SPARK_<tag>_med3.json / BENCH_DUCK_<tag>_med3.json — the
  bench.py-shaped JSON whose per-query values are medians-of-3 and
  whose "value" is the sum of medians; a "runs" key carries each
  run's total so the spread is auditable.
- MED3_<tag>.md — the human digest: totals per run, median totals,
  ratio, per-run spread vs the median, and every query whose
  run-to-run spread exceeds +-10% of its median (the outliers the
  protocol exists to smooth), with the three raw values shown.

Query NAMEs make it a subset A/B: both sides time only those names
under their usual protocol, and it prints a spark/duck/ratio table of
the per-query medians and writes nothing.

Usage: python tools/bench_median.py [SF_DIR] [NAME...] [--tag TAG]
(SF_DIR defaults to $SPARK_GRAFT_SF_DIR, else bench.py's default)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGEST_DIR = os.path.join(REPO, "tools", "digests")


def run_json(args: list[str], env: dict) -> dict:
    """Run ``python ARGS`` from the repo root in a fresh process and
    return the last stdout line that parses as a JSON object: the bench
    scripts print ONE such line last, amid whatever else gets logged."""
    out = subprocess.run(
        [sys.executable, *args], cwd=REPO, env=env, capture_output=True, text=True
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"{args} exited {out.returncode}; stderr tail:\n{out.stderr[-3000:]}"
        )
    for line in reversed(out.stdout.splitlines()):
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict):
            return doc
    raise RuntimeError(f"no JSON line from {args}:\n{out.stdout[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Median-of-3 interleaved Spark/DuckDB bench pairs."
    )
    ap.add_argument("args", nargs="*", metavar="[SF_DIR] NAME")
    ap.add_argument("--tag", help="write the full-catalog ledgers as *_TAG_*")
    opts = ap.parse_args()
    names = opts.args
    sf_dir = names.pop(0) if names and "/" in names[0] else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    if names and opts.tag:
        ap.error("--tag writes full-catalog ledgers; a subset run writes nothing")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    pairs: list[tuple[dict, dict]] = []
    for i in range(3):
        t0 = time.time()
        s = run_json(["bench.py", *names], env)
        d = run_json(["tools/bench_duck.py", *names], env)
        pairs.append((s, d))
        print(
            f"pair {i + 1}/3: spark={s['value']}s duck={d['value']}s "
            f"ratio={common_ratio(s['queries'], d['queries']):.3f} "
            f"wall={time.time() - t0:.0f}s",
            flush=True,
        )
    print("\n".join(report(pairs, sf_dir, names, opts.tag, DIGEST_DIR)))


def report(
    pairs: list[tuple[dict, dict]],
    sf_dir: str,
    names: list[str],
    tag: str | None,
    digest_dir: str,
) -> list[str]:
    """The lines to print after the pairs. Only a tagged full-catalog
    run writes its ledgers under ``digest_dir``."""
    if names:
        return subset_table(pairs)
    lines = summarize(pairs, tag or "untagged", sf_dir, digest_dir if tag else None)
    if tag:
        md = os.path.join(digest_dir, f"MED3_{tag}.md")
        with open(md, "w") as f:
            f.write("\n".join(lines))
        lines.append(f"wrote {md}")
    return lines


def medians(runs: list[dict]) -> dict[str, float]:
    """Per-query median across runs, in the first run's query order."""
    return {
        n: round(statistics.median(r["queries"][n] for r in runs), 3)
        for n in runs[0]["queries"]
    }


def common_ratio(spark_q: dict[str, float], duck_q: dict[str, float]) -> float:
    """Spark/DuckDB time ratio over the queries both sides timed."""
    common = set(spark_q) & set(duck_q)
    duck = sum(duck_q[n] for n in common)
    return sum(spark_q[n] for n in common) / duck if duck else float("nan")


def subset_table(pairs: list[tuple[dict, dict]]) -> list[str]:
    """Per-query medians of a subset run: spark, duck, ratio. A query
    with no DuckDB twin shows nan and stays out of the total ratio."""
    spark_m = medians([p[0] for p in pairs])
    duck_m = medians([p[1] for p in pairs])
    lines = [f"{'query':35s} {'spark':>8s} {'duck':>8s} {'ratio':>7s}"]
    for n, s in spark_m.items():
        d = duck_m.get(n, float("nan"))
        lines.append(f"{n:35s} {s:8.3f} {d:8.3f} {common_ratio({n: s}, duck_m):7.2f}")
    both = [n for n in spark_m if n in duck_m]
    lines.append(
        f"{f'both timed ({len(both)})':35s} {sum(spark_m[n] for n in both):8.3f}"
        f" {sum(duck_m[n] for n in both):8.3f} {common_ratio(spark_m, duck_m):7.2f}"
    )
    return lines


def summarize(
    pairs: list[tuple[dict, dict]], tag: str, sf_dir: str, digest_dir: str | None
) -> list[str]:
    """Write the two med3 JSON docs (unless ``digest_dir`` is None) and
    return the MD digest lines.

    Pure given (pairs, env): unit-testable without running either
    engine — the skip-naming contract (any entry present on one side
    only MUST be named in the digest header, with the BENCH_DUCK_SKIP
    reason when one was set) is pinned by tests/test_bench_tools.py.
    """
    report: list[str] = []
    med: dict[str, dict] = {}
    for side, idx, fname in (
        ("SPARK", 0, f"BENCH_SPARK_{tag}_med3.json"),
        ("DUCK", 1, f"BENCH_DUCK_{tag}_med3.json"),
    ):
        runs = [p[idx] for p in pairs]
        names = list(runs[0]["queries"])
        med_q = medians(runs)
        total = round(sum(med_q.values()), 3)
        doc = {
            "metric": runs[0]["metric"] + "_median_of_3",
            "value": total,
            "unit": "sec",
            "sf": runs[0]["sf"],
            "runs": [r["value"] for r in runs],
            "queries": med_q,
        }
        med[side] = doc
        if digest_dir is not None:
            with open(os.path.join(digest_dir, fname), "w") as f:
                json.dump(doc, f, separators=(",", ":"))
                f.write("\n")
        spread = [
            f"{(r['value'] - total) / total * 100:+.1f}%" for r in runs
        ]
        report.append(
            f"- **{side}**: median total **{total} s** "
            f"(runs: {', '.join(str(r['value']) for r in runs)} s; "
            f"spread vs median: {', '.join(spread)})"
        )
        # per-query outliers: (max-min)/median > 20% (i.e. beyond
        # +-10% of the median) AND an absolute swing worth reading
        outliers = []
        for n in names:
            vals = sorted(r["queries"][n] for r in runs)
            m = med_q[n]
            if m > 0 and (vals[-1] - vals[0]) > max(0.2 * m, 0.15):
                outliers.append((vals[-1] - vals[0], n, vals, m))
        outliers.sort(reverse=True)
        if outliers:
            report.append(
                f"  - {len(outliers)} queries with run-to-run spread "
                f"beyond +-10% of their median (raw values shown; the "
                f"median is the committed number):"
            )
            for swing, n, vals, m in outliers[:15]:
                report.append(
                    f"    - `{n}`: {vals} -> median {m} (swing {swing:.2f} s)"
                )
            if len(outliers) > 15:
                report.append(f"    - … and {len(outliers) - 15} more")
    # Ratio over the COMMON query set: a side may skip entries (e.g.
    # BENCH_DUCK_SKIP for a twin the yardstick cannot execute at this
    # sf) — comparing totals over different sets would be dishonest.
    common = sorted(
        set(med["SPARK"]["queries"]) & set(med["DUCK"]["queries"])
    )
    skipped = sorted(
        set(med["SPARK"]["queries"]) ^ set(med["DUCK"]["queries"])
    )
    skip_env = os.environ.get("BENCH_DUCK_SKIP", "")
    skip_reason = os.environ.get("BENCH_DUCK_SKIP_REASON", "")
    s_common = round(sum(med["SPARK"]["queries"][n] for n in common), 3)
    d_common = round(sum(med["DUCK"]["queries"][n] for n in common), 3)
    ratio = s_common / d_common
    pair_ratios = [
        round(common_ratio(p[0]["queries"], p[1]["queries"]), 3) for p in pairs
    ]
    lines = [
        f"# MED3_{tag} — median-of-3 interleaved A/B pairs",
        "",
        f"sf_dir: `{sf_dir}` · {len(common)} queries ·"
        f" 3 interleaved (spark, duck) pairs, fresh process per run,"
        f" machine otherwise idle.",
        "",
        f"**Median ratio (sum of per-query medians over the common"
        f" set): {ratio:.3f}** (per-pair ratios: {pair_ratios};"
        f" common-set totals: spark {s_common} s, duck {d_common} s)",
        *(
            [
                "",
                f"**Excluded from the ratio** (present on one side "
                f"only): {', '.join(f'`{n}`' for n in skipped)}"
                + (
                    f" — skipped via BENCH_DUCK_SKIP={skip_env}"
                    + (f" ({skip_reason})" if skip_reason else "")
                    if skip_env
                    else ""
                ),
            ]
            if skipped
            else []
        ),
        "",
        *report,
        "",
    ]
    return lines


if __name__ == "__main__":
    main()
