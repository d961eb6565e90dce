"""Output fingerprints pinned per (workload, size, seed).

``pinned.json`` maps workload -> size key -> seed -> operation ->
[rows, hash sum, hash xor], recorded from runs of the engine that
passed every other check. A run whose (workload, size, seed) is pinned
must reproduce every pinned fingerprint; other seeds rely on the
cross-pass, cross-path and numpy checks alone. Each run writes its own
fingerprints to ``.gzbench/fingerprints-<workload>-<seed>.json``, the
source for new pins.
"""

from __future__ import annotations

import json
import os

from .spans import CheckFailed

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "pinned.json")


def size_key(size: dict) -> str:
    return ",".join(f"{k}={v}" for k, v in sorted(size.items()))


def check(wl) -> None:
    with open(PATH) as f:
        pins = json.load(f)
    want = pins.get(wl.name, {}).get(size_key(wl.size), {}).get(
        str(wl.seed))
    if want is None:
        return
    got = wl.fingerprints()
    bad = sorted(op for op, fp in want.items() if got.get(op) != fp)
    if bad:
        raise CheckFailed(f"fingerprints differ from pinned.json for "
                          f"seed {wl.seed}: {', '.join(bad)}")


def record(path: str, wl) -> None:
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "size": size_key(wl.size),
                   "seed": wl.seed, "fingerprints": wl.fingerprints()},
                  f, indent=1)
