"""Fold one or more bench.py stdout JSON lines into BENCH/last_run.json.

bench.py is measurement-frozen (it prints its single JSON line and owns no
files); this helper is how a round-close snapshot lands in the repo. The
artifact keeps the r06 shape — {"queries": min-across-sessions,
"sessions": [per-session bench dicts]} — plus, when BENCH/plan_hashes.json
exists, a "plan_hashes" copy so cross-round timing drift on unchanged code
is mechanically attributable to host vs plan (VERDICT r06 #6).

Usage: python tools/fold_last_run.py out.json bench_stdout.json [...]
"""

from __future__ import annotations

import json
import os
import sys


def load_session(path: str) -> dict:
    """The one bench document in ``path``: exactly one line must parse as a
    JSON object, and its ``queries`` must be a non-empty dict of numbers.
    Anything else exits non-zero, naming the file."""
    with open(path) as fh:
        docs = []
        for ln in fh.read().splitlines():
            try:
                doc = json.loads(ln)
            except json.JSONDecodeError:
                continue  # log noise around the bench line
            if isinstance(doc, dict):
                docs.append(doc)
    if len(docs) != 1:
        sys.exit(f"{path}: expected exactly one JSON object line, "
                 f"found {len(docs)}")
    q = docs[0].get("queries")
    if not (isinstance(q, dict) and q and all(
        isinstance(v, (int, float)) and not isinstance(v, bool)
        for v in q.values()
    )):
        sys.exit(f"{path}: 'queries' is not a non-empty dict of numbers")
    return docs[0]


def main() -> None:
    out_path = sys.argv[1]
    sessions = [load_session(p) for p in sys.argv[2:]]
    folded: dict[str, float] = {}
    for s in sessions:
        for k, v in s["queries"].items():
            folded[k] = min(v, folded.get(k, v))
    art = {"queries": folded, "sessions": sessions}
    if os.path.exists("BENCH/plan_hashes.json"):
        with open("BENCH/plan_hashes.json") as fh:
            art["plan_hashes"] = json.load(fh)
    with open(out_path, "w") as fh:
        json.dump(art, fh)
    total = round(sum(folded.values()), 3)
    print(f"wrote {out_path}: {len(sessions)} session(s), "
          f"folded head total {total} s")


if __name__ == "__main__":
    main()
