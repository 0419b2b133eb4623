"""Names and units of the metrics the benchmark prints, as listed in
``BENCHMARK.json`` at the root of the checkout.

Every run prints every end-to-end metric (untraced) or every per-layer
metric (traced) on every workload; a layer a workload never touches
reads 0 there, which is how "most work in one workload, little in
another" is read.
"""

from __future__ import annotations

import json
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load(path: str) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, in file order."""
    with open(path) as f:
        bench = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in bench[key]} for key in ("end_to_end", "per_layer")
    )

