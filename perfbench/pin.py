"""Pin the default-seed output digests of every workload into pinned.json.

    python3 perfbench/pin.py

Each digest is computed in-process by the library's pure batch function
over the workload's default-seed input (see inputs.py). Re-pin only when
the program's output is meant to change.
"""

from __future__ import annotations

import json
import os
import sys

import run

sys.path.insert(0, run.ROOT)

import inputs  # noqa: E402


def main() -> None:
    cores = len(os.sched_getaffinity(0))
    pins = {}
    for name, spec in sorted(run.WORKLOADS.items()):
        shape = inputs.Shape(**spec)
        _, meta = inputs.ensure_input(
            os.path.join(run.STATE, "inputs"), name, shape, run.DEFAULT_SEED,
            want_ref=True, workers=cores,
        )
        if meta["ref"]["errors"]:
            sys.exit(f"{name}: the reference output has error rows")
        pins[shape.key(name, run.DEFAULT_SEED)] = {
            k: v for k, v in meta["ref"].items() if k != "errors"
        }
    with open(os.path.join(run.HERE, "pinned.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
