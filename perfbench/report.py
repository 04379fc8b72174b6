"""Turn a traced run's span file into the per-layer table.

    python3 perfbench/report.py .perfbench_work/spans/lake-seed1.json \
        [--untraced .perfbench_work/records/lake-seed1-trace0.json] \
        [--again other-traced-run-of-seed1.json]

For each layer: spans recorded, self time (a span's duration minus the
part its child spans cover) in total and per timed round, the Spark jobs,
stages and tasks attributed to it, and the end-to-end metric it is
predicted to move. Layers the workload should reach but that recorded no
span are flagged. Given the untraced run record of the same seed, the
report also states the tracing overhead on ``round_s`` and ``op_gmean_ms``.
Given a second traced run of the same seed (``--again``), it states whether
the Spark jobs of each timed pass or cycle repeated exactly, or by how much
they differ.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.metrics import EXPECTED_LAYERS, PREDICTIONS  # noqa: E402


def self_times(spans: list[dict]) -> dict[int, float]:
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}


def layer_table(doc: dict) -> tuple[list[dict], list[str]]:
    spans = doc["spans"]
    rounds = max(doc["meta"].get("rounds") or 0, 1)
    selft = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["layer"], {
            "layer": s["layer"], "spans": 0, "self_s": 0.0, "self_s_per_round": 0.0,
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        })
        r["spans"] += 1
        r["self_s"] += selft[s["id"]]
        if s["round"] >= 1:
            r["self_s_per_round"] += selft[s["id"]] / rounds
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            r[k] += s["counts"].get(k, 0)
    timed = [s for s in spans if s["round"] >= 1]
    rows["scheduler"] = {
        "layer": "scheduler", "spans": 0, "self_s": None, "self_s_per_round": None,
        **{k: sum(s["counts"].get(k, 0) for s in spans) for k in ("jobs", "stages", "tasks", "failed_tasks")},
        "jobs_per_round": sum(s["counts"].get("jobs", 0) for s in timed) / rounds,
    }
    workload = doc["meta"]["config"]["workload"]
    missing = [la for la in EXPECTED_LAYERS.get(workload, ()) if la not in rows or not rows[la]["spans"]]
    out = []
    for name in sorted(rows):
        r = rows[name]
        base = next((p for p in sorted(PREDICTIONS, key=len, reverse=True) if name.startswith(p)), None)
        r["predicted_to_move"] = PREDICTIONS.get(base, "") if base else ""
        out.append(r)
    return out, missing


def overhead(doc: dict, untraced: dict | None) -> dict | None:
    if untraced is None:
        return None
    traced = doc["meta"]["record"]["end_to_end"]
    base = untraced["end_to_end"]
    return {
        k: {"traced": traced[k], "untraced": base[k], "overhead": traced[k] - base[k]}
        for k in ("round_s", "op_gmean_ms")
    }


def jobs_repeat(doc: dict, again: dict) -> str:
    """Compare the jobs of each timed round of two traced runs of one seed
    (the runs may differ in how many rounds fit in the window)."""
    a = doc["meta"]["record"]["per_layer_extra"]["scheduler.jobs_by_round"]
    b = again["meta"]["record"]["per_layer_extra"]["scheduler.jobs_by_round"]
    common = sorted(set(a) & set(b), key=int)
    diffs = {r: b[r] - a[r] for r in common if a[r] != b[r]}
    head = f"Jobs per timed round, two traced runs of one seed: {[a[r] for r in common]} vs {[b[r] for r in common]}"
    if not diffs:
        return head + f" - repeat exactly over {len(common)} round(s)."
    return head + f" - differ in {len(diffs)} of {len(common)} round(s), by {sorted(diffs.values())} jobs."


def render(doc: dict, untraced: dict | None, again: dict | None = None) -> str:
    rows, missing = layer_table(doc)
    cfg = doc["meta"]["config"]
    lines = [
        f"## Layer report: {cfg['workload']}, seed {cfg['seed']}, {cfg['master']}, "
        f"{doc['meta'].get('rounds')} timed round(s)",
        "",
        "| layer | spans | self s | self s / round | jobs | stages | tasks | failed tasks | predicted to move |",
        "|---|---|---|---|---|---|---|---|---|",
    ]

    def f(v):
        return "-" if v is None else (f"{v:.3f}" if isinstance(v, float) else str(v))

    for r in rows:
        lines.append(
            f"| {r['layer']} | {r['spans']} | {f(r['self_s'])} | {f(r['self_s_per_round'])} | "
            f"{r['jobs']} | {r['stages']} | {r['tasks']} | {r['failed_tasks']} | {r['predicted_to_move']} |"
        )
    lines.append("")
    lines.append("Missing layers (expected on this workload, no spans): " + (", ".join(missing) or "none"))
    record = doc["meta"]["record"]
    lines.append("")
    lines.append("Per-layer metrics: " + json.dumps(record.get("per_layer", {}), sort_keys=True))
    lines.append("")
    lines.append("Layer-specific metrics: " + json.dumps(record.get("per_layer_extra", {}), sort_keys=True))
    ov = overhead(doc, untraced)
    lines.append("")
    if ov:
        lines.append("Tracing overhead (traced minus untraced, same seed): " + ", ".join(
            f"{k} {v['overhead']:+.3f} ({v['traced']:.3f} vs {v['untraced']:.3f})" for k, v in ov.items()
        ))
    else:
        lines.append("Tracing overhead: pass --untraced with the untraced record of the same seed.")
    if again is not None:
        lines.append("")
        lines.append(jobs_repeat(doc, again))
    return "\n".join(lines) + "\n"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans")
    ap.add_argument("--untraced", help="run record of the untraced run with the same seed")
    ap.add_argument("--again", help="span file of a second traced run with the same seed")
    args = ap.parse_args(argv)

    def load(path):
        if path is None:
            return None
        with open(path) as fh:
            return json.load(fh)

    sys.stdout.write(render(load(args.spans), load(args.untraced), load(args.again)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
