"""The ADC gather is exact: an integer sum divided once equals the
oracles' rounded sum of 6-dp partials under every summation order.

The engine scores a candidate as ``(k0 + k1 + k2 + k3) / 1e6`` over
its 4 LUT slots, each an integer count of micro-units
(`plans/pq_common.adc_topk`). The oracles sum the 6-dp partials
``k_i / 1e6`` as doubles in whatever order their aggregate visits them
and round: ``floor(sum(pd2) * 1e6 + 0.5) / 1e6``. Both agree bit for
bit when the float sum stays within half a micro-unit of the integer
sum, which holds for entries up to 4e9. The largest LUT entry of the
sf0.1 fixture is 732,237 micro-units (the PQ LUTs; the IVFADC residual
LUTs, nprobe 1 and 2, peak at 727,750), far below that bound. Pure
Python, no Spark.
"""

from __future__ import annotations

import itertools
import math
import random

MAX_ENTRY = 4_000_000_000


def _oracle(parts) -> float:
    """floor(sum * 1e6 + 0.5) / 1e6 over partials summed left to right."""
    total = 0.0
    for p in parts:
        total += p
    return math.floor(total * 1e6 + 0.5) / 1e6


def _orders(ks):
    """All 24 sequential orders of the 4 partials, plus the 3 pairings a
    two-level parallel aggregate can merge them in."""
    pd2 = [k / 1e6 for k in ks]
    for perm in itertools.permutations(pd2):
        yield _oracle(perm)
    for (a, b), (c, d) in (((0, 1), (2, 3)), ((0, 2), (1, 3)), ((0, 3), (1, 2))):
        yield math.floor(((pd2[a] + pd2[b]) + (pd2[c] + pd2[d])) * 1e6 + 0.5) / 1e6


def test_gather_equals_oracle_under_every_order():
    rng = random.Random(20111)
    cases = [[0, 0, 0, 0], [MAX_ENTRY] * 4, [1, MAX_ENTRY, 999_999, 500_000]]
    cases += [[rng.randint(0, MAX_ENTRY) for _ in range(4)] for _ in range(20_000)]
    # entries at the fixtures' scale
    cases += [[rng.randint(0, 1_000_000) for _ in range(4)] for _ in range(20_000)]
    for ks in cases:
        gather = sum(ks) / 1e6
        assert sum(ks) < 2**53
        for got in _orders(ks):
            assert got == gather, (ks, got, gather)
