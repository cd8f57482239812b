"""A/B two bench JSON outputs: geomean ratio and worst regressions over
shared per-query keys (steady-state `queries` by default, `--setup` for
the cold dict). Accepts the raw one-line bench output or an artifact that
nests it under ``"parsed"`` (the committed ``BENCH_rNN.json`` files).

Usage: python tools/bench_compare.py OLD.json NEW.json [--setup]
"""

from __future__ import annotations

import json
import math
import sys


def load(path: str, key: str) -> dict:
    with open(path) as f:
        text = f.read()
    # driver artifacts may truncate to the LAST 2000 chars; recover the
    # last complete JSON object if direct parse fails
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        start = text.find("{")
        try:
            doc = json.loads(text[start:]) if start >= 0 else {}
        except json.JSONDecodeError as e:
            sys.exit(f"{path}: not a bench JSON document ({e})")
    if isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    if not isinstance(doc.get(key), dict):
        sys.exit(f"{path}: no '{key}' map (top-level keys: {sorted(doc)})")
    return doc[key]


def main() -> None:
    key = "setup" if "--setup" in sys.argv else "queries"
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    old, new = load(args[0], key), load(args[1], key)
    shared = sorted(set(old) & set(new))
    if not shared:
        sys.exit(f"no shared '{key}' keys between {args[0]} and {args[1]}")
    ratios = [(new[k] / old[k] if old[k] > 0 else 1.0, k) for k in shared]
    geomean = math.exp(sum(math.log(max(r, 1e-9)) for r, _ in ratios) / len(ratios))
    print(f"{len(shared)} shared '{key}' keys  geomean {geomean:.3f}  "
          f"sum {sum(old[k] for k in shared):.1f} -> {sum(new[k] for k in shared):.1f} s")
    regress = [(r, k) for r, k in ratios if r > 1.3 and new[k] - old[k] > 0.4]
    for r, k in sorted(regress, reverse=True):
        print(f"  REGRESS {k}: {old[k]:.3f} -> {new[k]:.3f} s ({r:.2f}x)")
    if not regress:
        print("  zero regressions >30% & >0.4 s")
    for r, k in sorted(ratios, reverse=True)[:5]:
        print(f"  top {k}: {old[k]:.3f} -> {new[k]:.3f} s ({r:.2f}x)")


if __name__ == "__main__":
    main()
