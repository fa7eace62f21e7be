"""The bench's printed line: 2-decimal per-query times, and a 1-decimal
fallback floored at 0.1 s on the raw timing when the line would outgrow
the 2000-char tail window that records it."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_short_line_keeps_two_decimals():
    line = bench.bench_line({"q01_a": 0.004, "q02_b": 1.5}, 2, 0.1)
    assert line == (
        '{"queries":{"q01":0.0,"q02":1.5},"per_query":"min_of_2","sf":0.1,'
        '"metric":"headline_queries_total_wall_clock","unit":"sec","value":1.504}'
    )


def test_fallback_floors_the_raw_timing():
    # enough queries to force the fallback; sub-5 ms queries must not
    # print as 0.0 (a present query reading as dropped)
    timings = {f"q{i:03d}_x": (0.004 if i % 2 else 12.349) for i in range(150)}
    line = bench.bench_line(timings, 2, 0.1)
    assert len(line) <= 1900
    queries = json.loads(line)["queries"]
    assert len(queries) == 150
    assert {v for k, v in queries.items() if int(k[1:]) % 2} == {0.1}
    assert {v for k, v in queries.items() if not int(k[1:]) % 2} == {12.3}
