#!/usr/bin/env python3
"""Record expected output hashes for a list of seeds.

    python3 perfbench/record.py --seeds 0-20,42

* job_longtail: text and chunk hash of the warm-up part (part 0, a
  quarter of the default page count), as committed by run_extraction;
* curate_delta: value hashes of a full index rebuild over the combined
  corpus, the reference the day-2 delta tables must equal (a recorded
  seed skips the rebuild inside the timed run's checks).

Results merge into ``expected_hashes.json``.  Record after changing a
workload's generator or sizes, from a commit whose outputs are trusted;
never to make a failing check pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", required=True, help="e.g. 0-20,42")
    args = p.parse_args(argv)
    import sparkprobe
    from workloads import EXPECTED, CurateDelta, JobLongtail, load_expected

    run_dir = os.path.join(HERE, "_runs", f"record-{os.getpid()}")
    os.makedirs(run_dir)
    spark, _ = sparkprobe.start_session(len(os.sched_getaffinity(0)),
                                        "2g", run_dir)
    expected = load_expected()
    try:
        for seed in _seeds(args.seeds):
            d = os.path.join(run_dir, str(seed))
            os.makedirs(d)
            job = JobLongtail(spark, seed, d, None)
            job.setup()
            job.prepare(max(1, job.n // 4))
            job.call()
            job.check()
            cur = CurateDelta(spark, seed, d, None)
            cur.write_inputs()
            hashes = {job.name: job.hashes, cur.name: cur.rebuild_hashes()}
            errors = job.errors + cur.errors
            if errors:
                print(f"seed {seed}: {errors}", file=sys.stderr)
                return 1
            for w, n in ((job, job.n), (cur, cur.n)):
                expected.setdefault(w.name, {})[f"{n}/{seed}"] = \
                    hashes[w.name]
            with open(EXPECTED, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
            print(f"seed {seed}: recorded", flush=True)
            shutil.rmtree(d)
    finally:
        sparkprobe.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
