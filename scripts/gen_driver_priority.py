"""Regenerate ``queries._DRIVER_PRIORITY`` for the next driver round.

The external driver records CORRECTNESS rows for the FIRST 50
``queries()`` entries only, so the list must rotate: names never yet
sampled first (the current round's additions), then every
previously-sampled name STALEST-FIRST by its last CORRECTNESS_r0N
appearance. Names without an oracle (rows-only) are kept out of the
first 50: the driver cannot hash-check them, so a slot spent on one
is a sample lost. Run at round end, paste the output block over the
list in ``queries.py``.

Usage: python scripts/gen_driver_priority.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The driver records CORRECTNESS rows for this many leading names.
SAMPLE = 50

# Names FORCED into the top of the sample regardless of staleness —
# queries whose code changed with thin driver-side coverage: the two
# stored IVF-PQ probes (the versioned store under them), the score
# changelog views (one shared projection) and the fold-scale replays
# (one shared body).
PINNED = [
    "sim_ivf_pq_stored",
    "sim_opq_stored",
    "chg_s6_tableview",
    "stream_s6_tableview",
    "chg_a4_global_sum",
    "chg_w2_lru_top5",
    "fold_scale_replay",
    "fold_scale_replay_xl",
]


def main() -> None:
    from play_with_pulsar_spark import queries as q

    names = list(q.queries().keys())
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        with open(path) as f:
            for k in json.load(f):
                last[k] = max(last.get(k, 0), rnd)
    pinned = [n for n in PINNED if n in names]
    rest = [n for n in names if n not in pinned]
    never = [n for n in rest if n not in last]
    stale = sorted((n for n in rest if n in last), key=lambda n: (last[n], n))
    order = pinned + never + stale
    head = [n for n in order if q.REGISTRY[n].oracle is not None][:SAMPLE]
    order = head + [n for n in order if n not in head]
    print(f"# pinned: {len(pinned)}; never sampled: {len(never)}; sampled: {len(stale)}")
    print("_DRIVER_PRIORITY = [")
    print("    # pins first (changed code needing driver-side verification),")
    print("    # then never-driver-sampled names, then every previously-sampled")
    print("    # name stalest-first by last CORRECTNESS_r0N appearance; no")
    print(f"    # rows-only name in the first {SAMPLE} (gen_driver_priority.py)")
    for n in order:
        note = "pinned" if n in pinned else f"r{last[n]}" if n in last else ""
        print(f'    "{n}",' + (f"  # {note}" if note else ""))
    print("]")


if __name__ == "__main__":
    main()
