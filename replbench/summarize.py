"""Summarize run records into one baseline file.

    python3 replbench/summarize.py OUT.json RECORD.json [RECORD.json ...]

Groups the records ``run.py`` writes to ``.replbench/runs/`` by workload and
trace flag, and for every metric gives the median, the quartiles and the
spread (quartile distance over median, the figure BENCHMARK.json's bounds
are compared with), plus the tracing overhead (traced minus untraced
medians of the end-to-end metrics). The records themselves are kept in the
output, minus the raw per-operation lists.
"""

from __future__ import annotations

import json
import statistics
import sys


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main(out: str, paths: list[str]) -> None:
    records = [json.load(open(p)) for p in paths]
    groups: dict[str, list[dict]] = {}
    for r in records:
        groups.setdefault(f"{r['provenance']['workload']}/trace{r['provenance']['trace']}",
                          []).append(r)
    summary = {}
    for key, runs in sorted(groups.items()):
        metrics = {}
        for section in ("end_to_end", "per_layer", "detail"):
            names = {n for r in runs for n in r[section]}
            for n in sorted(names):
                vals = [r[section][n] for r in runs if r[section].get(n) is not None]
                if vals:
                    metrics[n] = spread(vals)
        summary[key] = {
            "runs": len(runs),
            "correct": all(r["correct"] for r in runs),
            "seeds": [r["provenance"]["seed"] for r in runs],
            "metrics": metrics,
        }
    # tracing overhead as traced minus untraced medians of the end-to-end
    # metrics, per workload that has both kinds of run
    for key in [k for k in summary if k.endswith("/trace1")]:
        plain = summary.get(key.replace("/trace1", "/trace0"))
        if plain:
            summary[key]["tracing_overhead"] = {
                n: summary[key]["metrics"][n]["median"] - plain["metrics"][n]["median"]
                for n in records[0]["end_to_end"]
                if n in summary[key]["metrics"] and n in plain["metrics"]
            }
    for r in records:
        r.pop("result", None)
    json.dump({"summary": summary, "records": records}, open(out, "w"), indent=1)
    for key, s in summary.items():
        print(f"{key}: {s['runs']} runs, correct={s['correct']}")
        for n in records[0]["end_to_end"]:
            m = s["metrics"][n]
            print(f"  {n}: median {m['median']:.5g} spread {m['spread']:.3f}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
