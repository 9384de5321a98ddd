"""Tests of the benchmark itself: run with ``python -m pytest perfbench``
from the repository root."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import inputs  # noqa: E402
import reference  # noqa: E402
from tracing import Tracer, parse_metric  # noqa: E402


def test_parse_metric_units():
    assert parse_metric("1,234") == 1234
    assert parse_metric("0.0 B") == 0
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB)") == 2048
    assert parse_metric("total (min, med, max)\n15.6 s (3.4 s, 4.3 s, 4.3 s)") == 15.6
    assert parse_metric("12 ms") == 0.012


def _flat(rows):
    out = []
    for doc_id, spans in rows:
        for seq, (kind, text, ref) in enumerate(reference.golden_spans(spans)):
            out.append((doc_id, seq, kind, text, ref))
    return out


def test_span_gate_catches_a_dropped_or_duplicated_span():
    rows = inputs.extraction_docs(12, seed=3, mega_every=6)
    expected = {d: reference.golden_spans(s) for d, s in rows}
    expected = {d: v for d, v in expected.items() if v}
    flat = _flat(rows)
    assert reference.check_spans(flat, expected) == []
    assert reference.check_spans(flat[:7] + flat[8:], expected)
    assert reference.check_spans(flat + flat[:1], expected)


def test_inputs_are_seeded():
    assert inputs.extraction_docs(5, 7) == inputs.extraction_docs(5, 7)
    assert inputs.extraction_docs(5, 7) != inputs.extraction_docs(5, 8)
    assert inputs.curate_documents(80, 2) == inputs.curate_documents(80, 2)
    ids = ["a", "b", "c"]
    assert inputs.serve_requests(30, 1, ids) == inputs.serve_requests(30, 1, ids)
    batches = inputs.ingest_batches(4, 5, 1)
    assert [k for k, _ in batches] == ["fresh", "reingest", "fresh", "reingest"]
    assert [r[0] for r in batches[1][1]] == [r[0] for r in batches[0][1]]


def test_self_time_subtracts_direct_children():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert 0 <= tr.self_time("outer") <= tr.total("outer")
    assert tr.count_within("inner", "outer") == 1


def test_smoke_every_workload_passes_its_gate():
    """Every workload, gate and the traced run on tiny inputs."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--smoke"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
