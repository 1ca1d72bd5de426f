"""Render one traced run per layer, or diff two traced runs.

Usage (from the repository root)::

    python3 perfbench/layer_report.py RESULT.json            # one run
    python3 perfbench/layer_report.py BASE.json CHANGED.json  # diff

RESULT files are the copies ``run.py --trace 1`` writes to
``.bench_out/<workload>-seed<n>-trace1.json``. Each row names the layer,
the metric, its value(s), and which end-to-end metric it should move
(``layers.MOVES``). Layers whose metrics are all zero in every run shown
are omitted.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import MOVES  # noqa: E402


def _load(path: str) -> tuple[dict, dict]:
    with open(path) as fh:
        doc = json.load(fh)
    if doc["detail"]["trace"] != 1:
        raise SystemExit(f"{path} is not a traced run (--trace 1)")
    return doc["detail"], {k: v["value"] for k, v in doc["result"]["metrics"].items()}


def _fmt(v) -> str:
    if v is None:
        return "-"
    return f"{v:,.0f}" if abs(v) >= 100 else f"{v:.4g}"


def render(paths: list[str]) -> str:
    runs = [_load(p) for p in paths]
    rows = [("layer", "metric", *[os.path.basename(p) for p in paths],
             *(["change"] if len(runs) == 2 else []), "should move")]
    layers: dict[str, list[str]] = {}
    for name in MOVES:
        layers.setdefault(name.split(".", 1)[0], []).append(name)
    for layer, names in layers.items():
        if all(not (m.get(n) or 0) for n in names for _, m in runs):
            continue
        for n in names:
            vals = [m.get(n) for _, m in runs]
            row = [layer, n.split(".", 1)[1], *map(_fmt, vals)]
            if len(runs) == 2:
                a, b = vals
                row.append(f"{(b - a) / a:+.1%}" if a and b is not None else "-")
            rows.append((*row, MOVES[n]))
    widths = [max(len(str(r[i])) for r in rows) for i in range(len(rows[0]))]
    head = []
    for detail, _ in runs:
        prov = detail["provenance"]
        head.append(
            f"# {detail['workload']} seed {detail['seed']}: head {prov['head'] or '-'}"
            f" dirty {prov['dirty']} tree {prov['tree_sha256'][:12]}"
            f" cores {prov['cores']} ambient {detail['ambient']}"
        )
    body = ["  ".join(str(c).ljust(w) for c, w in zip(r, widths)).rstrip() for r in rows]
    return "\n".join(head + body)


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    print(render(argv))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
