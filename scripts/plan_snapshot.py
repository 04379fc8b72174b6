"""Snapshot the formatted physical plans (``plans.formatted_plan``) of
named queries into plans/r12/<query>_<tag>.txt — the repo's one plan-dump
tool (optimization-round evidence artifacts).

Usage: python scripts/plan_snapshot.py <tag> query1 query2 ...
       python scripts/plan_snapshot.py <tag> --headline
       python scripts/plan_snapshot.py <tag> --top N   (slowest N from the
                                                        latest families bench)
       python scripts/plan_snapshot.py <tag> --headline --top 10
                                   (the headline queries plus the ten
                                    slowest: the set PLANS.md records)

Plans are captured at sf0.1 (the bench scale) so AQE thresholds and scan
statistics match what the bench actually executes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12"
)


def _latest_families_bench(root: str) -> str | None:
    """The BENCH_FAMILIES_r<N>.json in ``root`` with the highest round N.

    Rounds sort numerically: the corpus mixes zero-padded (r05..r08) and
    unpadded (r10, r11) round numbers, so a lexicographic sort would pick
    the wrong "latest" bench. Names the round regex does not match (a
    stray ``BENCH_FAMILIES_rX_draft.json``) are skipped."""
    rounds = []
    for path in glob.glob(os.path.join(root, "BENCH_FAMILIES_r*.json")):
        m = re.search(r"BENCH_FAMILIES_r0*(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    return max(rounds)[1] if rounds else None


def _slowest(registry, k: int) -> list[str]:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = _latest_families_bench(root)
    if latest is None:
        return []
    with open(latest) as fh:
        data = json.load(fh)
    data = data.get("parsed", data)
    ranked = sorted(data.get("queries", {}).items(), key=lambda kv: -kv[1])
    return [n for n, _ in ranked[:k] if n in registry]


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    tag = args[0]
    names = args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from tscd_datalake_adapter_spark import get_spark, plans
    from tscd_datalake_adapter_spark.operators import load_all

    spark = get_spark("plan-snapshot", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    expanded: list[str] = []
    i = 0
    while i < len(names):
        if names[i] == "--headline":
            expanded.extend(
                sorted(n for n, s in registry.items() if s.headline)
            )
        elif names[i] == "--top":
            i += 1
            expanded.extend(_slowest(registry, int(names[i])))
        else:
            expanded.append(names[i])
        i += 1

    os.makedirs(OUT_DIR, exist_ok=True)
    seen = set()
    for name in expanded:
        if name in seen:
            continue
        seen.add(name)
        plan = plans.formatted_plan(registry[name].fn(spark, sf_dir))
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
