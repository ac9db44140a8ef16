"""Pin the kg_build nodes/edges checksum of a range of seeds.

    python3 perfbench/pin_digests.py --seeds 0-39 [--write]

Builds each seed's KG on one Spark session, checks it like run.py does
(entity and triple counts against the single-process pipeline) and prints
its checksum next to the pinned one in kg_digests.json. With ``--write``
the checksums are stored there; run.py then holds every kg_build pass of
a pinned seed to it, so the KG must repeat exactly from run to run. Pin
again only when a change is meant to alter the KG.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spread import parse_seeds  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="e.g. 0-39 or 3,5,8")
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    work_dir = os.path.join(run.WORK, f"pin-{os.getpid()}")
    run.prepare_env(work_dir)
    try:
        with open(workloads.PINNED_DIGESTS) as f:
            pins = json.load(f)
    except FileNotFoundError:
        pins = {}
    spark = run.build_spark(work_dir)
    bad = 0
    try:
        for seed in parse_seeds(args.seeds):
            job = workloads.KgBuild(gen.make("kg_build", seed),
                                    os.path.join(work_dir, str(seed)))
            job.reference()
            job.expected["digest"] = None  # checked against the pin below
            res = job.run(spark)
            errs = job.check(res)
            digest = workloads.kg_digest(res)
            old = pins.get(str(seed))
            state = "new" if old is None else "same" if old == digest else "DIFFERS"
            print(f"seed {seed}: {digest} {state} {'; '.join(errs)}", flush=True)
            bad += bool(errs) or state == "DIFFERS"
            if not errs:
                pins[str(seed)] = digest
            job.release()
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
    if args.write:
        with open(workloads.PINNED_DIGESTS, "w") as f:
            json.dump(dict(sorted(pins.items(), key=lambda kv: int(kv[0]))), f, indent=1)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
