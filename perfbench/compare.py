#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent and a change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories of run records (the files
``run.py`` writes to ``.perfbench/results/``) or record files. For
each workload and each end-to-end metric in BENCHMARK.json it prints
both sides' median and quartiles, the pairwise win fraction (pairs
matched by seed) and a verdict:

- ``gain``: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's interquartile distance;
- ``regression``: the change's median is worse than the parent's by
  more than the metric's bound;
- ``unresolved``: the parent's own spread is wider than the bound and
  not every change run beats every parent run;
- ``within bound`` otherwise.

The figures each record holds without a bound (wall ``pass_s``,
``query_p50_s``, ``query_tail_s``, ``query_cpu_p50_s`` and
``jit_cpu_s``) are compared the same way, with verdict ``no bound``
unless a gain. From traced records it prints the tracing overhead
(traced minus untraced median wall ``pass_s``) and every per-layer
metric's median delta, largest relative change first.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import quartiles  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIN_RULE = 0.9


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    """Records of one trace setting, grouped by workload and core count."""
    out: dict[str, list[dict]] = {}
    for r in records:
        if r["trace"] == trace:
            out.setdefault(f"{r['workload']} local[{r['env']['cores']}]", []).append(r)
    return out


def pairs(parent: list[dict], change: list[dict], key: str, section: str):
    """(parent value, change value) pairs, matched by seed where both
    sides ran it, else in file order."""
    p_by = {r["seed"]: r[section][key] for r in parent}
    c_by = {r["seed"]: r[section][key] for r in change}
    shared = sorted(set(p_by) & set(c_by))
    if shared:
        return [(p_by[s], c_by[s]) for s in shared]
    return list(zip([r[section][key] for r in parent], [r[section][key] for r in change]))


def verdict(p: list[float], c: list[float], pr: list[tuple], lower_better: bool,
            bound: float | None):
    sign = 1 if lower_better else -1
    (p1, pm, p3), (_, cm, _) = quartiles(p), quartiles(c)
    win = sum(sign * (a - b) > 0 for a, b in pr) / len(pr) if pr else float("nan")
    lose = sum(sign * (a - b) < 0 for a, b in pr) / len(pr) if pr else float("nan")
    worse_by = sign * (cm - pm) / pm if pm else float("nan")
    all_better = max(c) < min(p) if lower_better else min(c) > max(p)
    if pr and win >= WIN_RULE and abs(cm - pm) > (p3 - p1) and sign * (pm - cm) > 0:
        v = "gain"
    elif bound is None:
        v = "no bound"
    elif worse_by > bound:
        v = "regression"
    elif pm and (p3 - p1) / pm > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return win, lose, worse_by, v


def fmt_q(values: list[float]) -> str:
    q1, m, q3 = quartiles(values)
    return f"{m:.4g} [{q1:.4g}, {q3:.4g}]"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    parent, change = load(argv[0]), load(argv[1])
    p_e2e, c_e2e = by_workload(parent, 0), by_workload(change, 0)
    p_tr, c_tr = by_workload(parent, 1), by_workload(change, 1)
    for wl in sorted(set(p_e2e) | set(p_tr)):
        print(f"== {wl}: parent {len(p_e2e.get(wl, []))} runs, change {len(c_e2e.get(wl, []))} runs")
        if wl in p_e2e and wl in c_e2e:
            print(f"{'metric':<18}{'parent median [q1, q3]':<30}{'change median [q1, q3]':<30}"
                  f"{'win':>6}{'lose':>6}{'worse by':>10}  verdict (bound)")
            rows = [("end_to_end", m["name"], m["better"] == "lower", m["bound"])
                    for m in spec["end_to_end"]]
            rows += [("extra", name, True, None) for name in p_e2e[wl][0]["extra"]]
            for section, name, lower_better, bound in rows:
                p = [r[section][name] for r in p_e2e[wl]]
                c = [r[section][name] for r in c_e2e[wl]]
                pr = pairs(p_e2e[wl], c_e2e[wl], name, section)
                win, lose, worse_by, v = verdict(p, c, pr, lower_better, bound)
                shown = "-" if bound is None else f"{bound:.0%}"
                print(f"{name:<18}{fmt_q(p):<30}{fmt_q(c):<30}{win:>6.2f}{lose:>6.2f}"
                      f"{worse_by:>+10.1%}  {v} ({shown})")
        for side, tr, e2e in (("parent", p_tr, p_e2e), ("change", c_tr, c_e2e)):
            if tr.get(wl) and e2e.get(wl):
                traced = statistics.median(r["per_layer"]["trace.pass_s"] for r in tr[wl])
                plain = statistics.median(r["extra"]["pass_s"] for r in e2e[wl])
                print(f"tracing overhead ({side}): {traced - plain:+.3f} s on pass_s "
                      f"{plain:.3f} s ({(traced - plain) / plain:+.1%})")
        if p_tr.get(wl) and c_tr.get(wl):
            rows = []
            for name in p_tr[wl][0]["per_layer"]:
                pm = statistics.median(r["per_layer"][name] for r in p_tr[wl])
                cm = statistics.median(r["per_layer"].get(name, float("nan")) for r in c_tr[wl])
                rel = (cm - pm) / abs(pm) if pm else (0.0 if cm == pm else float("inf"))
                rows.append((abs(rel), name, pm, cm, rel))
            print("per-layer medians, largest relative change first:")
            for _, name, pm, cm, rel in sorted(rows, key=lambda r: r[0], reverse=True):
                print(f"  {name:<32}{pm:>12.4g}{cm:>12.4g}{cm - pm:>+12.4g}{rel:>+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
