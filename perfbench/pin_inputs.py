#!/usr/bin/env python3
"""Record the digest of the default-size inputs of seeds 0..N-1 in
inputs.json. Re-run only on purpose: a changed digest means the fixture
generator changed, and results measured before and after are not
comparable.

Usage: python3 perfbench/pin_inputs.py [N]   (default 100)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inputs import N_CONVS, N_QUERIES, PINS, digest, make_inputs  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    pins = {
        "n_convs": N_CONVS,
        "n_queries": N_QUERIES,
        "sha256": {
            str(s): digest(*make_inputs(s)) for s in range(n)
        },
    }
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
