"""Same-host paired A/B bench: checks a base commit into a throwaway git
worktree and runs that tree's own ``bench.py`` and the current tree's
``bench.py`` back-to-back, interleaved A/B/A/B on the same host — so
every paired delta has the host conditions in common and a real
regression separates from drift without any normalization model.

Run: ``python tools/bench_ab.py <base-commit> [--reps N]`` (reps default
2 → 4 bench invocations). Prints one JSON line on stdout: per-query
base/head medians over the interleaved reps, the paired delta, and the
tree identities; progress goes to stderr. Queries are compared on the
INTERSECTION of the two trees' headline sets (new registrations have no
base leg by construction — they are listed, not silently dropped).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from statistics import median

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LEG_TIMEOUT_S = 1800


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", "-C", cwd, *args],
        check=True, capture_output=True, text=True,
    ).stdout


def run_bench(tree: str) -> dict:
    """Run ``bench.py`` in ``tree`` and parse its one-line JSON tail."""
    try:
        res = subprocess.run(
            [sys.executable, os.path.join(tree, "bench.py")],
            cwd=tree, capture_output=True, text=True,
            timeout=LEG_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        sys.exit(f"bench leg in {tree} exceeded {LEG_TIMEOUT_S}s — "
                 "hung Spark session?")
    if res.returncode != 0:
        sys.exit(f"bench leg failed in {tree}:\n{res.stderr[-2000:]}")
    # r17 ADVICE #2: a stray log line starting with '{' (or a
    # pretty-printed multi-line tail from an older base tree) must not
    # crash the leg — keep scanning past anything that doesn't parse as
    # a one-line JSON object carrying the bench payload shape
    for line in reversed(res.stdout.splitlines()):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            payload = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(payload, dict) and "queries" in payload:
            return payload
    sys.exit(
        f"no parseable bench JSON line with a 'queries' key in output "
        f"from {tree} — if this is the base leg, its bench.py "
        "(pre-r16 payload schema?) may not emit the current shape")


def main() -> None:
    args = list(sys.argv[1:])
    reps = 2
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    if len(args) != 1:
        sys.exit("usage: python tools/bench_ab.py <base-commit> [--reps N]")
    base_label = args[0]
    base_sha = _git("rev-parse", base_label).strip()
    head_sha = _git("rev-parse", "HEAD").strip()
    dirty = bool(_git("status", "--porcelain",
                      "--untracked-files=no").strip())

    wt = tempfile.mkdtemp(prefix="bench_ab_base_")
    _git("worktree", "add", "--detach", wt, base_sha)
    try:
        base_runs: list[dict] = []
        head_runs: list[dict] = []
        for rep in range(reps):
            print(f"rep {rep + 1}/{reps}: base leg …", file=sys.stderr)
            base_runs.append(run_bench(wt))
            print(f"rep {rep + 1}/{reps}: head leg …", file=sys.stderr)
            head_runs.append(run_bench(REPO))
    finally:
        _git("worktree", "remove", "--force", wt)

    def med_queries(runs: list[dict]) -> dict[str, float]:
        keys = set.intersection(*[set(r["queries"]) for r in runs])
        return {k: round(median(r["queries"][k] for r in runs), 3)
                for k in sorted(keys)}

    base_q = med_queries(base_runs)
    head_q = med_queries(head_runs)
    shared = sorted(set(base_q) & set(head_q))
    per_query = {
        k: {
            "base": base_q[k],
            "head": head_q[k],
            "delta_pct": round(100.0 * (head_q[k] - base_q[k]) / base_q[k],
                               1) if base_q[k] else None,
        }
        for k in shared
    }
    tot_base = round(sum(base_q[k] for k in shared), 3)
    tot_head = round(sum(head_q[k] for k in shared), 3)
    payload = {
        "metric": "paired_ab_shared_queries_total",
        "base": base_label,
        "base_sha": base_sha,
        "head_sha": head_sha,
        "head_dirty": dirty,
        "reps_per_tree": reps,
        "interleaving": "base/head alternated per rep, same host",
        "shared_total_base_sec": tot_base,
        "shared_total_head_sec": tot_head,
        "shared_total_delta_pct": round(
            100.0 * (tot_head - tot_base) / tot_base, 2) if tot_base else None,
        "head_only_queries": sorted(set(head_q) - set(base_q)),
        "base_only_queries": sorted(set(base_q) - set(head_q)),
        "per_query": per_query,
        "sf": head_runs[0].get("sf"),
    }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
