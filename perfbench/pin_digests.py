"""Pin the expected sink digests of the workloads checked by digest.

    python3 perfbench/pin_digests.py --workload small-configs --seeds 0-31

Run from the root of a checkout. For each seed it generates the inputs,
runs each of the workload's pipelines once, digests every sink and
records the digests in ``digests.json``, keeping the other entries. Run
it when a change is meant to alter pipeline outputs, and say so in the
change; otherwise a digest mismatch is a correctness failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import run  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True,
                    choices=[w for w, spec in run.WORKLOADS.items() if not spec.oracle])
    ap.add_argument("--seeds", required=True, type=seed_range, help="e.g. 0-31")
    args = ap.parse_args(argv)

    root = os.getcwd()
    run._import_package(root)
    table = {}
    if os.path.exists(run.DIGESTS):
        with open(run.DIGESTS) as f:
            table = json.load(f)
    bench = run.Bench(run.WORKLOADS[args.workload], args.seeds[0], 0, False, root)
    try:
        bench.start_session()
        for seed in args.seeds:
            bench.seed = seed
            bench.make_inputs()
            bench.book = checks.DigestBook(None, "first-run")
            for cfg in bench.w.configs:
                record = bench.run_once(cfg, traced=False)
                bench.check(record)
                if not record.ok:
                    print(f"seed {seed}: {record.pipeline} failed", file=sys.stderr)
                    return 1
            table.setdefault(args.workload, {})[str(seed)] = dict(sorted(bench.book.expected.items()))
            print(f"seed {seed}: {len(bench.book.expected)} sinks", file=sys.stderr)
    finally:
        bench.close()
    with open(run.DIGESTS, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
