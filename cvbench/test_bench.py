"""Tests of the benchmark's own code: seeded inputs and the trace parser.

    python3 -m pytest cvbench/test_bench.py -q
"""

from __future__ import annotations

import os

import datagen
import tracing


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def _requests(seed: int) -> tuple:
    corpus = datagen.make_corpus(seed)
    return (
        datagen.modes_sequence(seed, 6),
        [b.tolist() for b in datagen.ingest_batches(seed, 3)],
        datagen.ingest_queries(seed, corpus),
    )


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    for sub in ("a", "b"):
        datagen.write_corpus(datagen.make_corpus(3), str(tmp_path / sub))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert set(a) == {"documents.parquet", "embeddings.parquet"}
    assert a == b


def test_other_seed_changes_corpus(tmp_path):
    datagen.write_corpus(datagen.make_corpus(3), str(tmp_path / "a"))
    datagen.write_corpus(datagen.make_corpus(4), str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert all(a[n] != b[n] for n in a)


def test_same_seed_gives_identical_requests_and_other_seed_changes_them():
    assert _requests(5) == _requests(5)
    a, b = _requests(5), _requests(6)
    assert all(x != y for x, y in zip(a, b))


def test_corpus_shape():
    c = datagen.make_corpus(1)
    assert len(c["doc_id"]) == datagen.N_DOCS
    assert c["embedding"].shape == (datagen.N_DOCS, datagen.DIM)
    norms = (c["embedding"].astype("float64") ** 2).sum(axis=1) ** 0.5
    assert abs(norms - 1).max() < 1e-6


def test_ingest_batches_are_disjoint_and_sized():
    rounds = datagen.MAX_INGEST_ROUNDS
    batches = datagen.ingest_batches(1, rounds)
    sizes = [len(b) for b in batches]
    assert sizes == [datagen.INGEST_BASE_DOCS] + [datagen.INGEST_BATCH_DOCS] * rounds
    ids = [i for b in batches for i in b.tolist()]
    assert len(set(ids)) == len(ids) and max(ids) < datagen.N_DOCS


def test_modes_sequence_counts_depend_only_on_rounds():
    for seed in (1, 2):
        seq = datagen.modes_sequence(seed, 6)
        for kind, w in datagen.MODE_WEIGHTS.items():
            assert seq.count(kind) == 6 * w
        assert seq.count("evaluate") == 3


def test_jobs_attribute_to_group_or_innermost_span_and_roll_up():
    spans = [
        {"name": "req", "parent": None, "start": 10.0, "end": 20.0, "dur": 10.0},
        {"name": "req.exec", "parent": 0, "start": 12.0, "end": 19.0, "dur": 7.0},
        {"name": "other", "parent": None, "start": 30.0, "end": 31.0, "dur": 1.0},
    ]
    jobs = {
        # tagged with the child span's group
        0: {"submit": 12.5, "end": 14.0, "group": tracing.GROUP_PREFIX + "1", "stages": [0]},
        # untagged (submitted from a package thread): found by time
        1: {"submit": 13.0, "end": 15.0, "group": None, "stages": [1]},
        # outside every span
        2: {"submit": 25.0, "end": 26.0, "group": None, "stages": [2]},
    }
    stages = {
        0: {"tasks": 4, "run_ms": 100.0, "shuffle_bytes": 10, "kind": "scan"},
        1: {"tasks": 2, "run_ms": 50.0, "shuffle_bytes": 0, "kind": "write"},
        2: {"tasks": 1, "run_ms": 5.0, "shuffle_bytes": 0, "kind": "other"},
    }
    out = tracing.attribute(spans, jobs, stages)
    assert set(out) == {0}
    req = out[0]
    assert (req["jobs"], req["tasks"], req["executor_run_ms"]) == (2, 6, 150.0)
    assert req["stage_ms"] == {"scan": 100.0, "write": 50.0}
    # busy 12.5..15.0 of a 10 s span
    assert abs(req["driver_gap_ms"] - 7500.0) < 1e-6


def test_stage_kind():
    assert tracing.stage_kind(["Execute InsertIntoHadoopFsRelationCommand"], "") == "write"
    assert tracing.stage_kind(["MapInPandas", "Exchange"], "") == "python"
    assert tracing.stage_kind(["Exchange", "HashAggregate"], "") == "aggregate"
    assert tracing.stage_kind(["Exchange"], "") == "exchange"
    assert tracing.stage_kind(["Scan parquet"], "") == "scan"
    assert tracing.stage_kind(["mystery"], "") == "other"
