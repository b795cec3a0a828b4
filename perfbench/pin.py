"""Record the pinned outputs of each workload for a range of seeds.

    python3 perfbench/pin.py --workload selfdedup_minhash --seeds 0-31

Run it from the root of a source checkout. For every seed it runs one
untimed pass, checks it against the oracle, and stores its outputs
(counts and fingerprints) and dup-pair recall in ``perfbench/pins.json``;
``run.py`` then fails any pass of a pinned seed whose outputs differ. A seed whose pass fails the
oracle is not pinned and the script exits non-zero. Re-pin only when a
change to the engine is meant to change results, and say so.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import run


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 0-31 or 1,5,9")
    args = p.parse_args()

    sys.path.insert(0, run.ROOT)
    import workloads

    path = os.path.join(run.HERE, "pins.json")
    with open(path) as f:
        pins = json.load(f)
    work = os.path.join(run.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    bad = []
    try:
        conf = run.prepare_env(work, trace=False)
        spark = run.start_spark(conf)
        try:
            for seed in _seeds(args.seeds):
                wl = workloads.WORKLOADS[args.workload](spark, seed)
                wl.setup()
                _, out = wl.run_pass()
                problems, recall = wl.check(out)
                wl.teardown()
                print(json.dumps({"seed": seed, "counts": out["counts"], "recall": recall,
                                  "problems": problems}), flush=True)
                if problems:
                    bad.append(seed)
                    continue
                pins.setdefault(args.workload, {})[str(seed)] = {
                    "outputs": wl.comparable(out), "dup_pair_recall": recall}
        finally:
            run.stop_spark(spark)
    finally:
        run.remove_work(work)
    pinned = pins.get(args.workload, {})
    pins[args.workload] = dict(sorted(pinned.items(), key=lambda kv: int(kv[0])))
    with open(path, "w") as f:
        json.dump(pins, f, indent=1)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
