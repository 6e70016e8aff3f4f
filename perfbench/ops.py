"""Query workloads and the canonical result form their checks use.

``analytics_read`` times registered queries from
``datalake_brief_spark.queries``; each op builds the query's DataFrame and
collects it. The collected rows are checked against a digest pinned in
``digests.json`` (see ``pin.py``), outside the timed region.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

import numpy as np

WORKLOADS = {
    # relational scans, exchanges, broadcasts and a window, and two
    # curation queries that cross the Python boundary (worker boot/init,
    # Arrow transfer, spread_scan); no txlog, no commits
    "analytics_read": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q2_min_cost_supplier",
        "topk_per_group",
        "dedup_minhash",
        "multimodal_png",
    ],
}

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "digests.json")


def data_dir(scale: float) -> str:
    """The input tables at ``scale``: a byte-identical copy of the
    repository's test data (``data/sf0.01``, ``data/sf0.001``)."""
    return os.path.join(HERE, "data", f"sf{scale}")


def pass_order(workload: str, seed: int, p: int) -> list[str]:
    """The op names of pass ``p``: the cold pass (0) in list order, so
    that every seed warms the JIT on the same sequence, and every later
    pass in the order the seed shuffles it to."""
    names = WORKLOADS[workload]
    if p == 0:
        return list(names)
    return [names[i] for i in np.random.default_rng([seed, p]).permutation(len(names))]


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # absolute rounding kills sub-epsilon jitter near zero, significant
        # digits kill summation-order jitter on large sums; +0.0 kills -0.0
        return float(f"{round(v, 6):.10g}") + 0.0
    if isinstance(v, decimal.Decimal):
        return _norm(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(bytes(v)).hexdigest()
    if isinstance(v, dict):
        return sorted((str(k), _norm(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return repr(v)


def canon(rows, columns: list[str]) -> list:
    """Order-insensitive canonical form: columns sorted by name, values
    normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_norm(r[i]) for i in order] for r in rows]
    return sorted(out, key=lambda r: json.dumps(r, sort_keys=True, default=str))


def digest(rows, columns: list[str]) -> str:
    body = json.dumps(
        [sorted(columns), canon(rows, columns)], sort_keys=True, default=str
    )
    return hashlib.sha256(body.encode()).hexdigest()


def load_digests(scale: float) -> dict[str, str]:
    with open(DIGESTS_PATH) as f:
        return json.load(f).get(str(scale), {})
