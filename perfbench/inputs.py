"""Make one workload's inputs in a process of its own.

``run.py`` starts this while the Spark session starts, so that neither
the generator's time nor its memory lands in the measured process. The
workload's ``generate_inputs(ctx)`` result is pickled to ``OUT``.

Usage: python3 -m perfbench.inputs CONTEXT_JSON OUT
"""

from __future__ import annotations

import json
import os
import pickle
import sys

from perfbench import harness


def workload_module(name: str):
    if name == "replicate":
        from perfbench import replicate

        return replicate
    from perfbench import curation

    return curation


def main(argv: list[str]) -> int:
    ctx = harness.Context(**json.loads(argv[0]))
    prepared = workload_module(ctx.workload).generate_inputs(ctx)
    with open(argv[1] + ".tmp", "wb") as f:
        pickle.dump(prepared, f)
    os.replace(argv[1] + ".tmp", argv[1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
