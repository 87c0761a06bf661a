"""The one stdout contract bench.py keeps: the printed line fits the
line budget for the full registry, keeps the slowest queries, says
how many it left out, and parses as JSON."""

from __future__ import annotations

import json

from bench import LINE_BUDGET, compact_line

PAYLOAD = {
    "metric": "total_query_seconds",
    "value": 123.456,
    "unit": "sec",
    "sf": 0.1,
    "variance_pct": 4.2,
}


def _timings(n: int) -> dict[str, float]:
    # registry-length names, distinct costs so slowest-first is total
    return {
        f"query_name_of_typical_length_{i:03d}": round(0.05 + 0.013 * i, 3)
        for i in range(n)
    }


def test_full_registry_line_is_truncated_within_budget():
    timings = _timings(192)
    line = compact_line(PAYLOAD, timings)
    assert len(line) <= LINE_BUDGET
    doc = json.loads(line)
    for k, v in PAYLOAD.items():
        assert doc[k] == v
    kept = doc["queries"]
    assert 0 < len(kept) < len(timings)
    assert doc["queries_omitted"] == len(timings) - len(kept)
    assert doc["full"] == "BENCH_FULL.json"
    # the kept entries are exactly the slowest-first prefix
    slowest = sorted(timings, key=lambda n: -timings[n])[: len(kept)]
    assert list(kept) == slowest
    assert all(kept[n] == timings[n] for n in kept)
    # and it is the LARGEST such prefix: one more entry would overflow
    wider = dict(kept)
    nxt = sorted(timings, key=lambda n: -timings[n])[len(kept)]
    wider[nxt] = timings[nxt]
    over = dict(
        PAYLOAD, queries=wider, queries_omitted=len(timings) - len(wider),
        full="BENCH_FULL.json",
    )
    assert len(json.dumps(over, separators=(",", ":"))) > LINE_BUDGET


def test_short_registry_line_is_complete():
    timings = _timings(5)
    doc = json.loads(compact_line(PAYLOAD, timings))
    assert doc["queries"] == timings
    assert "queries_omitted" not in doc and "full" not in doc
