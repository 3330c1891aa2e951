"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracles, rawtext  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.run import RunAccount, curate_stage_times  # noqa: E402
from perfbench.tracing import self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, _digest, read_docs  # noqa: E402

ORG, SALT = "9.9.9.9.9", "t"


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def _input_digest(workload: str, seed: int, path: str) -> tuple:
    WORKLOADS[workload].generate_warm(seed, path)
    return tuple(_digest(os.path.join(path, d)) for d in sorted(os.listdir(path)))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_input_digest(workload, tmp_path):
    a = _input_digest(workload, 7, str(tmp_path / "a"))
    b = _input_digest(workload, 7, str(tmp_path / "b"))
    c = _input_digest(workload, 8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_raw_corpus_has_the_work_each_stage_needs():
    rows, uids = rawtext.generate(3, 400)
    texts = [r["text"] for r in rows]
    assert uids and all(uids[d] in rows[d]["text"] for d in uids)
    assert sum("@site.fr" in t for t in texts) > 50
    assert sum(any(b in t for b in rawtext._BOILERPLATE) for t in texts) > 50
    assert not any(c in t for t in texts for c in "<& ")


# ---------------------------------------------------------------------------
# verifiers fail corrupted outputs
# ---------------------------------------------------------------------------

def _deid_case():
    from deidcm_spark.corpus import doc_spans
    from deidcm_spark.oracle import deidentify_doc_oracle

    inputs = [{"doc_id": f"d{i}", "spans": doc_spans(i, 5, 12, 0.5, False)} for i in range(6)]
    outputs = [{"doc_id": d["doc_id"],
                "spans": deidentify_doc_oracle(d["doc_id"], d["spans"], ORG, SALT)} for d in inputs]
    return inputs, outputs


def test_deid_verifier_accepts_oracle_output():
    inputs, outputs = _deid_case()
    assert oracles.verify_deid(inputs, outputs, ORG, SALT) == []


def test_deid_verifier_fails_a_single_corrupted_span():
    inputs, outputs = _deid_case()
    span = outputs[3]["spans"][2]
    outputs[3]["spans"][2] = dict(span, text=span["text"] + "x")
    assert oracles.verify_deid(inputs, outputs, ORG, SALT)


def test_deid_verifier_fails_a_dropped_document():
    inputs, outputs = _deid_case()
    problems = oracles.verify_deid(inputs, outputs[:-1], ORG, SALT)
    assert problems and "missing" in problems[0]


def _pixel_rows(seed, n, margin):
    from deidcm_spark.corpus import media_ground_truth
    from deidcm_spark.oracle import redact_pixels_oracle

    rows = []
    for i in range(n):
        payload, boxes = media_ground_truth(i, seed)
        src = np.frombuffer(payload["pixels"], dtype=np.uint8).reshape(payload["height"], payload["width"])
        out = redact_pixels_oracle(src, boxes, margin=margin)
        rows.append([payload["media_ref"], payload["width"], payload["height"], out.tobytes(), boxes])
    return rows


def test_pixel_verifier_accepts_oracle_output():
    rows = _pixel_rows(4, 30, 8)
    problems, counts = oracles.verify_pixels((r[:4] for r in rows), 4, 30, 8)
    assert problems == []
    assert counts["boxes"] == sum(len(r[4]) for r in rows)
    assert 0 < counts["painted"] <= counts["boxes"]


def test_pixel_verifier_fails_a_wrongly_painted_box():
    rows = _pixel_rows(4, 30, 8)
    ref, w, h, pixels, boxes = next(r for r in rows if r[4])
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w).copy()
    b = boxes[0]
    img[b["y1"]:b["y2"] + 1, b["x1"]:b["x2"] + 1] = 255  # painted white, not black
    bad = [r[:4] if r[0] != ref else [ref, w, h, img.tobytes()] for r in rows]
    problems, _ = oracles.verify_pixels(iter(bad), 4, 30, 8)
    assert problems and ref in problems[0]


def test_pixel_verifier_fails_a_dropped_image():
    rows = _pixel_rows(4, 10, 8)
    problems, _ = oracles.verify_pixels((r[:4] for r in rows[1:]), 4, 10, 8)
    assert problems and "missing" in problems[0]


def test_web_verifier_fails_a_dropped_document_and_a_corrupted_span():
    rows, uids = rawtext.generate(2, 60)
    expected, changed = oracles.web_expected(rows, uids, ORG, rawtext.PHI_NAMES)
    assert changed > 0
    outputs = [{"doc_id": d, "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s))
                                       for s in spans]} for d, spans in expected.items()]
    assert oracles.verify_web(rows, uids, outputs, ORG, rawtext.PHI_NAMES)[0] == []
    problems, _ = oracles.verify_web(rows, uids, outputs[1:], ORG, rawtext.PHI_NAMES)
    assert problems and "missing" in problems[0]
    outputs[5]["spans"][1]["text"] = outputs[5]["spans"][1]["text"].upper()
    assert oracles.verify_web(rows, uids, outputs, ORG, rawtext.PHI_NAMES)[0]


def test_curate_verifier_fails_a_corrupted_ledger_and_sequence():
    rows, _ = rawtext.generate(5, 120)
    exp = oracles.curate_expected(rows, 256)
    final = [{"doc_id": d, "text": t} for d, t in exp["final"].items()]
    assert oracles.verify_curate(exp, dict(exp["ledger"]), final, exp["pieces"]) == []
    bad_ledger = dict(exp["ledger"], docs_after_gate=exp["ledger"]["docs_after_gate"] + 1)
    assert oracles.verify_curate(exp, bad_ledger, final, exp["pieces"])
    bad_pieces = list(exp["pieces"])
    bad_pieces[0] = bad_pieces[0][:5] + (bad_pieces[0][5] - 1,)
    assert oracles.verify_curate(exp, dict(exp["ledger"]), final, bad_pieces)
    assert oracles.verify_curate(exp, dict(exp["ledger"]), final[1:], exp["pieces"])


def test_pack_pieces_fill_every_sequence_but_the_last():
    pieces = oracles.pack_pieces([(1, 5), (2, 9), (3, 0), (4, 4)], 6)
    per_seq = {}
    for _, _, seq, _, _, n in pieces:
        per_seq[seq] = per_seq.get(seq, 0) + n
    assert [per_seq[s] for s in sorted(per_seq)] == [6, 6, 6]
    assert sum(p[5] for p in pieces if p[0] == 2) == 9


# ---------------------------------------------------------------------------
# a corrupted output is counted as failed
# ---------------------------------------------------------------------------

def test_corrupted_output_counts_as_failed():
    inputs, outputs = _deid_case()
    acct = RunAccount()
    ok = acct.check("run 0", (6, "h0"), lambda: (oracles.verify_deid(inputs, outputs, ORG, SALT), {}))
    acct.record(ok)
    assert ok and acct.expected == [6, "h0"]
    # a later run whose output digest differs
    acct.record(acct.check("run 1", (6, "h1"), lambda: pytest.fail("verified twice")))
    # a later run that reproduces the verified output
    acct.record(acct.check("run 2", (6, "h0"), lambda: pytest.fail("verified twice")))
    assert (acct.attempted, acct.failed) == (3, 1)
    assert acct.verified_frac == pytest.approx(2 / 3)


def test_first_output_failing_the_oracle_counts_as_failed():
    inputs, outputs = _deid_case()
    outputs[0]["spans"] = outputs[0]["spans"][1:]
    acct = RunAccount()
    acct.record(acct.check("run 0", (6, "h"), lambda: (oracles.verify_deid(inputs, outputs, ORG, SALT), {})))
    assert acct.failed == 1 and acct.expected is None and acct.problems


def test_read_docs_matches_row_conversion(tmp_path):
    import pyarrow.parquet as pq

    WORKLOADS["deid_spans"].generate_warm(3, str(tmp_path))
    path = str(tmp_path / "docs")
    assert read_docs(path) == pq.read_table(path).to_pylist()


# ---------------------------------------------------------------------------
# metric names and BENCHMARK.json
# ---------------------------------------------------------------------------

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_metric_names_are_plain():
    for name in list(END_TO_END) + list(PER_LAYER):
        assert NAME.fullmatch(name), name
        assert len(name) <= 64


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------

def _span(i, name, start, end, parent):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "run": "r"}


def test_self_time_on_a_hand_built_tree():
    spans = [
        _span(0, "root", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),    # overlaps a: union of children is [1, 6]
        _span(3, "a.x", 1.5, 2.0, 1),
        _span(4, "c", 9.0, 12.0, 0),   # runs past its parent: clipped to [9, 10]
        _span(5, "b", 7.0, 8.0, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0 + 1.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)  # clipped only in its parent's sum
    assert st[5] == pytest.approx(1.0)


def test_curate_actions_attributed_to_their_stage():
    # the action order pipeline.curate produces: each write is followed by
    # the count that reads it back; pack_sequences collects before its write
    names = ["collect", "write:normalized", "count", "write:gated", "count",
             "write:line_deduped", "write:deduped", "count", "collect", "collect",
             "write:sequences", "collect"]
    spans = [_span(0, "e2e", 0, 20, None)]
    for i, name in enumerate(names, start=1):
        spans.append(_span(i, f"e2e/{name}", float(i), i + 1.0, 0))
    spans.append(_span(20, "e2e/write:sequences/inner", 11.0, 11.5, 11))  # not a direct child
    st = curate_stage_times(spans, 0)
    assert st == {
        "textops.normalize_s": 3.0, "textops.quality_gate_s": 2.0,
        "spandedup.line_dedup_s": 1.0, "dedup.dedup_exact_s": 2.0,
        "textops.pack_sequences_s": 4.0,
    }


# ---------------------------------------------------------------------------
# without the program next to it the benchmark fails fast and prints no result
# ---------------------------------------------------------------------------

def test_fails_without_the_program(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "deid_spans",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert "correct" not in r.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
