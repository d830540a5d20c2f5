"""Tests of the benchmark itself: deterministic inputs, a tiny run of
every workload with all output checks passing, and each check failing
when a planted corruption is injected."""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
from contextlib import nullcontext

import pytest

from perfbench import gen
from perfbench.trace import Tracer, layer_metrics, traced_layers
from perfbench.workloads import BUCKET, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = {"sip_lifecycle": 12, "corpus_curation": 400}


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_generator_is_deterministic(tmp_path):
    for run in ("a", "b", "c"):
        seed = 5 if run != "c" else 6
        gen.make_accession(str(tmp_path / run / "acc"), seed, 20)
        gen.make_corpus(str(tmp_path / run / "corpus" / "c.parquet"), seed, 200)
    a, b, c = (_digests(str(tmp_path / r)) for r in "abc")
    assert a == b
    assert a != c


def _run_one(spark, name, work, seed=1, traced=False, corrupt=None):
    wl = WORKLOADS[name](str(work), seed, TINY[name])
    wl.generate()
    tracer = Tracer(spark)
    wl.before(0)
    tracer.enabled, tracer.iteration = traced, 0
    with traced_layers(tracer) if traced else nullcontext():
        with tracer.span("iteration"):
            r = wl.iterate(spark, tracer, 0)
        if corrupt is not None:
            corrupt(wl, r)
        outcome = wl.check(spark, tracer, 0, r)
    tracer.enabled = False
    return wl, tracer, outcome


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_smoke(spark, tmp_path, name):
    _, tracer, outcome = _run_one(spark, name, tmp_path, traced=True)
    assert outcome.problems == []
    assert outcome.items > 0 and outcome.written_bytes > 0
    m = layer_metrics(tracer, [0])
    assert m["iteration_self_s"][0] >= 0
    exercised = {
        "sip_lifecycle": ["csv2rdf.triples_s", "sip.assemble_s", "jsonld.write_s",
                          "events.write_s", "object_store.upload_s", "manifest.diff_s",
                          "jsonld.scan_s", "collect_rdf.union_s", "rdf_io.turtle_read_s"],
        "corpus_curation": ["text.prep_s", "dedup.signature_s", "dedup.verify_s"],
    }[name]
    for key in exercised:
        assert m[key][0] > 0, key
    if name == "sip_lifecycle":
        assert m["sip.assemble_self_s"][0] < m["sip.assemble_s"][0]
        assert m["jsonld.docs_written"][0] > 0 and m["events.n_events"][0] > 0
        assert 0 < m["manifest.changed_ratio"][0] < 0.1
        assert 0 < m["object_store.skip_ratio"][0] < 1
    if name == "corpus_curation":
        assert m["dedup.planted_recall"][0] >= 0.85


def _flip_bucket_payload(wl, r):
    """Flip one byte of every uploaded payload object."""
    root = os.path.join(r["store"], BUCKET, "bestanden")
    for f in os.listdir(root):
        if f.endswith(".jpg"):
            p = os.path.join(root, f)
            with open(p, "r+b") as fh:
                b = fh.read(1)
                fh.seek(0)
                fh.write(bytes([b[0] ^ 0xFF]))


def test_lifecycle_check_catches_flipped_payload_byte(spark, tmp_path):
    _, _, outcome = _run_one(spark, "sip_lifecycle", tmp_path, corrupt=_flip_bucket_payload)
    assert any("differs from its manifest md5" in p for p in outcome.problems)


def test_lifecycle_check_catches_unplanned_change_and_dropped_document(
        spark, tmp_path, monkeypatch):
    planned = gen.mutate_files

    def mutate_and_corrupt(tree, rel_paths, seed, step):
        # besides the recorded edits: one flipped payload byte and one
        # deleted metadata document
        changed = planned(tree, rel_paths, seed, step)
        payload = next(f for f in rel_paths if f.startswith("bestanden/") and f not in changed)
        with open(os.path.join(tree, payload), "r+b") as fh:
            b = fh.read(1)
            fh.seek(0)
            fh.write(bytes([b[0] ^ 0xFF]))
        doc = next(f for f in rel_paths if f.endswith(".meta.json") and f not in changed)
        os.remove(os.path.join(tree, doc))
        return changed

    monkeypatch.setattr(gen, "mutate_files", mutate_and_corrupt)
    _, _, outcome = _run_one(spark, "sip_lifecycle", tmp_path, seed=2)
    assert any(p.startswith("sync plan") for p in outcome.problems)
    assert any(p.startswith("reconcile reported") for p in outcome.problems)
    assert any(p.startswith("collected") for p in outcome.problems)


def test_corpus_check_catches_missed_duplicates(spark, tmp_path):
    def keep_exact_copy_and_miss_near_pairs(wl, r):
        c = wl.corpus
        src, copy = c.exact_groups[0]
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({"doc_id": pa.array([copy], pa.int64()),
                                 "text": pa.array(["x"], pa.string())}),
                       os.path.join(r["out"], "part-extra.parquet"))
        planted = set(c.near_pairs)
        r["pairs"] = [p for p in r["pairs"] if (p[0], p[1]) not in planted]

    _, _, outcome = _run_one(spark, "corpus_curation", tmp_path,
                             corrupt=keep_exact_copy_and_miss_near_pairs)
    assert any(p.startswith("exact duplicates") for p in outcome.problems)
    assert any(p.startswith("near-duplicate recall") for p in outcome.problems)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sip_lifecycle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
