"""Span recording and the per-layer self-time fold."""

import pytest

from perfbench.trace import Tracer, self_times


def _span(id_, parent, layer, start, end):
    return {"id": id_, "parent": parent, "trace_id": "t", "name": f"s{id_}",
            "layer": layer, "start": start, "end": end}


def test_self_time_fold_on_canned_spans():
    spans = [
        _span(1, None, "x", 0.0, 10.0),
        _span(2, 1, "y", 1.0, 4.0),
        _span(3, 1, "y", 3.0, 6.0),   # overlaps its sibling: union counted once
        _span(4, 2, "z", 2.0, 3.0),
        _span(5, None, "x", 20.0, 22.0),
        _span(6, 5, "z", 21.0, 25.0),  # runs past its parent: clipped for the parent
    ]
    got = self_times(spans)
    # x: (10 - 5) + (2 - 1); y: (3 - 1) + 3; z: 1 + 4
    assert got == pytest.approx({"x": 6.0, "y": 5.0, "z": 5.0})


def test_tracer_nests_and_shares_trace_id():
    t = [0.0]

    def clock():
        t[0] += 1.0
        return t[0]

    tracer = Tracer(True, clock=clock)
    with tracer.span("sink", "streaming", 7):
        with tracer.span("collect", "spark"):
            pass
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["collect"]["parent"] == by_name["sink"]["id"]
    assert by_name["collect"]["trace_id"] == by_name["sink"]["trace_id"] == "7"
    assert self_times(tracer.spans) == {"streaming": 2.0, "spark": 1.0}


def test_disabled_tracer_records_nothing():
    tracer = Tracer(False)
    with tracer.span("x", "y"):
        pass
    assert tracer.spans == []
