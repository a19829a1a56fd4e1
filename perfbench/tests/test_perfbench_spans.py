"""Span recording and self-time arithmetic."""

import json

import pytest
from spans import Tracer, self_ms, self_ms_by_name


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_leaf_self_time_is_its_duration():
    assert self_ms([_span(0, "a", 1.0, 1.25)]) == {0: pytest.approx(250.0)}


def test_children_are_subtracted_once_and_clipped_to_parent():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 1.0, 3.0, 0),
        _span(2, "exec", 2.0, 5.0, 0),     # overlaps build: [1, 5] covered once
        _span(3, "sink", 9.0, 12.0, 0),    # runs past the parent: [9, 10] counts
        _span(4, "inner", 2.5, 2.75, 2),   # grandchild: only its parent sees it
    ]
    out = self_ms(spans)
    assert out[0] == pytest.approx(5000.0)
    assert out[2] == pytest.approx(2750.0)
    assert out[4] == pytest.approx(250.0)


def test_self_time_by_name_sums_spans_of_a_name():
    spans = [
        _span(0, "op", 0.0, 2.0),
        _span(1, "exec", 0.0, 0.5, 0),
        _span(2, "exec", 1.0, 1.5, 0),
    ]
    assert self_ms_by_name(spans) == {"op": pytest.approx(1000.0),
                                      "exec": pytest.approx(1000.0)}


def test_tracer_nests_spans_and_writes_sidecar(tmp_path):
    tr = Tracer(run_id="r1")
    with tr.span("run") as run:
        with tr.span("op", run):
            pass
    tr.add("batch", 5.0, 6.0, run, rows=3)
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert tr.spans[2]["counts"] == {"rows": 3}
    assert all(s["run"] == "r1" and s["end"] >= s["start"] for s in tr.spans)
    path = tmp_path / "t.json"
    tr.dump(str(path), note="x")
    data = json.loads(path.read_text())
    assert data["run"] == "r1" and data["note"] == "x"
    assert len(data["spans"]) == 3 and "run" in data["self_ms_by_name"]
