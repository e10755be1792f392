"""Generated fixtures are staged once per generator key: a changed key
(synthetic.fixture_key hashes the generator module) restages them."""

from __future__ import annotations

import os

import __spark_entry__ as entry
from wikibrain_spark.sources import synthetic


def test_stage_once_regenerates_on_changed_key(tmp_path):
    stage = str(tmp_path / "stage")
    writes = []

    def write():
        writes.append(len(writes))
        with open(os.path.join(stage, "edges.parquet"), "w") as fh:
            fh.write(f"generation {len(writes)}")

    entry.stage_once(stage, "k1", write)
    entry.stage_once(stage, "k1", write)
    assert writes == [0], "same key must reuse the staged fixture"
    entry.stage_once(stage, "k2", write)
    assert writes == [0, 1], "a changed key must regenerate the fixture"
    assert sorted(n for n in os.listdir(stage) if n.startswith(".done_")) == [".done_k2"]
    with open(os.path.join(stage, "edges.parquet")) as fh:
        assert fh.read() == "generation 2"


def test_stage_once_reruns_an_interrupted_staging(tmp_path):
    stage = str(tmp_path / "stage")

    def fail():
        raise RuntimeError("interrupted")

    try:
        entry.stage_once(stage, "k", fail)
    except RuntimeError:
        pass
    assert not os.path.exists(os.path.join(stage, ".done_k"))
    calls = []
    entry.stage_once(stage, "k", lambda: calls.append(1))
    assert calls == [1]


def test_fixture_key_is_a_stable_content_hash():
    key = synthetic.fixture_key()
    assert key == synthetic.fixture_key()
    assert len(key) == 16 and int(key, 16) >= 0
