"""Collate run artifacts into one markdown report (RUN_REPORT.md).

Analog of the reference's results-JSON -> README leaderboard step
(/root/reference/scripts/report2markdown.py:18-60, which globs per-run
stats JSON and renders a sorted markdown metrics table): this collates
the engine's own run artifacts —

- the warehouse manifest (per-stage lineage + metrics JSONL written by
  sources/manifest.py),
- the newest CORRECTNESS_r{N}.json (driver oracle gate),
- the newest BENCH_r{N}.json (throughput + docs/streaming sections),
- BENCH/scaling.json + BENCH/weak_scaling.json (two-parallelism
  scaling-efficiency evidence)

— into a single human-readable markdown run report. Pure stdlib; every
section degrades to a "not found" note so partial runs still report.

Usage: python tools/report_md.py [repo_root] [-o OUT.md]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re


def _table(headers: list[str], rows: list[list]) -> str:
    out = ["| " + " | ".join(headers) + " |",
           "|" + "|".join("---" for _ in headers) + "|"]
    for r in rows:
        out.append("| " + " | ".join(str(x) for x in r) + " |")
    return "\n".join(out)


def _latest(repo: str, kind: str, tracked: set[str] | None = None) -> str | None:
    """The round record ``<kind>_r<N>.json`` with the highest round N.
    Suffixed files (``BENCH_r06_frozen.json``, ``_control``) are side
    records of a round, never its record; ``tracked`` optionally
    restricts candidates to these file names."""
    rounds = []
    for path in glob.glob(os.path.join(repo, f"{kind}_r*.json")):
        name = os.path.basename(path)
        m = re.fullmatch(rf"{kind}_r(\d+)\.json", name)
        if m and (tracked is None or name in tracked):
            rounds.append((int(m[1]), path))
    return max(rounds)[1] if rounds else None


def manifest_section(manifest_path: str | None) -> str:
    if not manifest_path or not os.path.exists(manifest_path):
        return "_no manifest found (no warehouse run in this checkout)_"
    with open(manifest_path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    if not records:
        return "_manifest is empty_"
    rows = []
    for r in records:
        lineage = r.get("partition_lineage") or {}
        rows.append([
            r.get("stage", "?"),
            r.get("sink", "?"),
            r.get("status", "?"),
            r.get("row_count", ""),
            r.get("wall_ms", ""),
            f"{len(lineage)} partitions" if lineage else "—",
        ])
    return _table(
        ["stage", "sink", "status", "rows", "wall_ms", "lineage"], rows
    )


def correctness_section(path: str | None) -> str:
    if not path or not os.path.exists(path):
        return "_no CORRECTNESS_r*.json yet_"
    with open(path) as f:
        data = json.load(f)
    rows, n_green, n_rows_only, n_fail = [], 0, 0, 0
    for name, r in data.items():
        checks = (r.get("rows_match"), r.get("schema_match"), r.get("hash_match"))
        err = r.get("err")
        if all(c is True for c in checks):
            status, n_green = "green", n_green + 1
        elif err == "no_oracle" and not any(c is False for c in checks):
            # the driver's marker for deliberately oracle-less queries
            status, n_rows_only = "rows-only", n_rows_only + 1
        elif any(c is False for c in checks) or err:
            status, n_fail = "**FAIL**", n_fail + 1
        else:
            status, n_rows_only = "rows-only", n_rows_only + 1
        rows.append([name, status, r.get("spark_rows", ""),
                     r.get("oracle_rows", ""), r.get("err") or ""])
    head = (f"**{n_green} green / {n_rows_only} rows-only / "
            f"{n_fail} failed** of {len(data)} checked "
            f"(`{os.path.basename(path)}`)\n\n")
    return head + _table(
        ["query", "status", "spark rows", "oracle rows", "error"], rows
    )


def bench_section(path: str | None) -> str:
    if not path or not os.path.exists(path):
        return "_no BENCH_r*.json yet_"
    with open(path) as f:
        b = json.load(f)
    # round records wrap bench.py's JSON line under "parsed"
    b = b.get("parsed") or b
    parts = [
        f"**{b.get('turns_per_sec', '?')} turns/s** end-to-end at "
        f"sf={b.get('sf', '?')} on local[{b.get('cores', '?')}] — total "
        f"{b.get('value', '?')}s (`{os.path.basename(path)}`)\n",
        _table(["query", "sec"],
               [[q, s] for q, s in b.get("queries", {}).items()]),
    ]
    for key, title in (("docs", "Documents / similarity"),
                       ("streaming", "Streaming")):
        sec = b.get(key)
        if sec:
            parts.append(f"\n### {title}\n")
            parts.append(_table(["metric", "value"], list(sec.items())))
    return "\n".join(parts)


def scaling_section(bench_dir: str) -> str:
    parts = []
    for fname, label in (("scaling.json", "strong scaling"),
                         ("weak_scaling.json", "weak scaling")):
        p = os.path.join(bench_dir, fname)
        if not os.path.exists(p):
            parts.append(f"_{label}: no {fname} yet_")
            continue
        with open(p) as f:
            s = json.load(f)
        eff = s.get("efficiency",
                    s.get("scaling_efficiency",
                          s.get("weak_scaling_efficiency", "?")))
        lo, hi = s.get("lo", {}), s.get("hi", {})
        parts.append(
            f"- **{label}: {eff}** — "
            f"{lo.get('turns_per_sec', '?')} turns/s on `{lo.get('cores', '?')}` "
            f"vs {hi.get('turns_per_sec', '?')} turns/s on `{hi.get('cores', '?')}` "
            f"(threshold 0.8; protocol in BENCH/BASELINE.md)"
        )
    return "\n".join(parts)


def _sources(repo: str, tracked_only: bool = False) -> list[str]:
    """The newest per-kind artifacts a fresh report would collate —
    the staleness contract: a RUN_REPORT.md citing anything else is
    stale and `--check` (and tests/test_report_md.py) fails it.

    ``tracked_only`` (the check path) restricts candidates to
    git-tracked files so scratch/untracked artifacts from a local
    experiment cannot flip the test suite red (ADVICE r4); generation
    still reads the newest files on disk, and committing a new
    artifact without regenerating the report fails the check — the
    nag fires exactly when the repo's record actually moved."""
    tracked: set[str] | None = None
    if tracked_only:
        import subprocess

        try:
            res = subprocess.run(
                ["git", "-C", repo, "ls-files"],
                capture_output=True, text=True, timeout=30,
            )
            if res.returncode == 0:
                tracked = set(res.stdout.split())
        except Exception:
            tracked = None  # no git -> fall back to on-disk newest
    hits = (_latest(repo, kind, tracked) for kind in ("CORRECTNESS", "BENCH"))
    return [os.path.basename(h) for h in hits if h]


def check_fresh(repo: str, report_path: str) -> str | None:
    """None if ``report_path`` cites the newest artifacts, else a
    human-readable staleness message."""
    if not os.path.exists(report_path):
        return f"{report_path} does not exist — run tools/report_md.py"
    with open(report_path) as f:
        head = f.read(2000)
    want = _sources(repo, tracked_only=True)
    marker = f"<!-- sources: {' '.join(want)} -->"
    if marker not in head:
        return (
            f"RUN_REPORT.md is stale: expected it to collate {want} "
            f"(marker {marker!r} not found) — re-run tools/report_md.py"
        )
    return None


def build_report(repo: str) -> str:
    manifest = None
    for cand in (os.path.join(repo, ".data", "warehouse", "_manifest.jsonl"),
                 os.path.join(repo, "spark-warehouse", "_manifest.jsonl")):
        if os.path.exists(cand):
            manifest = cand
            break
    sections = [
        "# Run report\n",
        f"<!-- sources: {' '.join(_sources(repo))} -->\n",
        "Collated from the warehouse manifest, the newest correctness "
        "gate, and the newest bench artifacts by `tools/report_md.py`.\n",
        "## Pipeline stages (manifest)\n", manifest_section(manifest), "",
        "## Correctness gate\n",
        correctness_section(_latest(repo, "CORRECTNESS")), "",
        "## Bench\n", bench_section(_latest(repo, "BENCH")), "",
        "## Scaling efficiency (N vs 4N executors)\n",
        scaling_section(os.path.join(repo, "BENCH")), "",
    ]
    return "\n".join(sections)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("repo", nargs="?", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("-o", "--out", default=None,
                    help="output path (default <repo>/RUN_REPORT.md)")
    ap.add_argument("--check", action="store_true",
                    help="verify the existing report cites the newest "
                         "artifacts; exit 1 if stale (writes nothing)")
    args = ap.parse_args()
    out = args.out or os.path.join(args.repo, "RUN_REPORT.md")
    if args.check:
        msg = check_fresh(args.repo, out)
        if msg:
            raise SystemExit(msg)
        print(f"{out} is fresh")
        return
    report = build_report(args.repo)
    with open(out, "w") as f:
        f.write(report)
    print(out)


if __name__ == "__main__":
    main()
