"""Spark-free property test of apply's census-derived write placement
(``cdc.apply._placement``): bucket slot ranges tile exactly
[0, shuffle_n), and a conversation is salted iff it would overfill one
slot, over seeded random censuses."""

from __future__ import annotations

import math
import random

import pytest

from audience_behavior_semantic_etl_spark.cdc.apply import _placement


def _census(convs: dict[str, tuple[int, int]], n_slots: int) -> list[dict]:
    """The census rows the stats job collects for conversations
    ``{conv_id: (bucket, rows)}``: per bucket its rows and the
    conversations with n·S > r_b."""
    rows: dict[int, int] = {}
    for b, n in convs.values():
        rows[b] = rows.get(b, 0) + n
    hot = {b: [] for b in rows}
    for c, (b, n) in convs.items():
        if n * n_slots > rows[b]:
            hot[b].append((c, n))
    return [{"__b": b, "n": rows[b], "hot": hot[b]} for b in rows]


def _random_convs(rng, n_convs, n_buckets, dominant=False):
    convs = {f"c{i}": (rng.randrange(n_buckets), rng.randint(1, 200)) for i in range(n_convs)}
    if dominant:  # one conversation holds most of the batch
        convs["big"] = (rng.randrange(n_buckets), 10 * sum(n for _, n in convs.values()))
    return convs


@pytest.mark.parametrize(
    "n_buckets,n_slots,n_convs,dominant",
    [
        (128, 8, 400, False),  # many more buckets than slots
        (16, 1, 60, False),
        (1, 8, 30, False),  # a single bucket
        (16, 8, 40, True),  # one conversation holds most rows
        (4, 32, 3, False),  # more slots than conversations
    ],
)
def test_placement_tiles_slots_and_salts_hot_conversations(n_buckets, n_slots, n_convs, dominant):
    rng = random.Random(n_buckets * 1000 + n_slots)
    for _ in range(20):
        convs = _random_convs(rng, n_convs, n_buckets, dominant)
        census = _census(convs, n_slots)
        total = sum(n for _, n in convs.values())
        assert all(len(r["hot"]) <= n_slots - 1 for r in census)

        ranges, salts = _placement(census, n_slots)

        assert sorted(ranges) == sorted(r["__b"] for r in census)
        covered = set()
        prev_end = 0
        for b in sorted(ranges):
            lo, width = ranges[b]
            assert width >= 1 and 0 <= lo and lo + width <= n_slots
            # contiguous in bucket order: a range starts where the last
            # ended, or shares the last one's final slot
            assert lo in (prev_end, prev_end - 1)
            prev_end = lo + width
            covered |= set(range(lo, lo + width))
        assert covered == set(range(n_slots))

        hot = {c: n for c, (_, n) in convs.items() if n > total / n_slots}
        assert set(salts) == set(hot)
        for c, n in hot.items():
            assert salts[c] == math.ceil(n * n_slots / total) <= n_slots
            # its salt values fit its bucket's range but for one wrap
            assert ranges[convs[c][0]][1] >= salts[c] - 1

        shuffled = census[::-1]
        assert _placement(shuffled, n_slots) == (ranges, salts)
        assert _placement(census, n_slots) == (ranges, salts)


def test_placement_of_an_empty_census():
    assert _placement([], 8) == ({}, {})
