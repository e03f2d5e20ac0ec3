"""The input generator is a pure function of the seed."""

import hashlib
import os

import pytest

from perfbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _ingest(seed, out_dir):
    stream = gen.IngestStream(seed, out_dir)
    for _ in range(3):
        stream.next_batch()
    return {"standing": stream.standing, "near": stream.standing_near, "batches": stream.batches}


@pytest.mark.parametrize("make", [gen.tool_inputs, gen.corpus_inputs, _ingest])
def test_same_seed_same_bytes_other_seed_other_bytes(make, tmp_path):
    m1 = make(7, str(tmp_path / "a"))
    m2 = make(7, str(tmp_path / "b"))
    m3 = make(8, str(tmp_path / "c"))
    d1, d2, d3 = (_digest(str(tmp_path / x)) for x in "abc")
    assert d1 == d2 and d1
    assert _relative(m1) == _relative(m2)
    assert _relative(m3) != _relative(m1)
    assert set(d1) == set(d3)
    assert all(d1[f] != d3[f] for f in d1)


def test_compare_counts_match_the_written_tables(tmp_path):
    m = gen.tool_inputs(3, str(tmp_path))
    for name, truth in m["compare"].items():
        a = {r[0]: r for r in _csv(tmp_path / f"{name}_a.csv")}
        b = {r[0]: r for r in _csv(tmp_path / f"{name}_b.csv")}
        assert len(a) == gen.COMPARE_SIZES[name]
        assert all(len(r) == len(gen.ORDER_COLUMNS) for r in [*a.values(), *b.values()])
        got = {
            "added": len(b.keys() - a.keys()),
            "deleted": len(a.keys() - b.keys()),
            "changed": sum(a[k] != b[k] for k in a.keys() & b.keys()),
            "same": sum(a[k] == b[k] for k in a.keys() & b.keys()),
        }
        assert got == truth["counts"]


def test_injected_duplicates(tmp_path):
    import pyarrow.parquet as pq

    m = gen.corpus_inputs(4, str(tmp_path))
    text = dict(zip(*pq.read_table(tmp_path / "corpus.parquet").to_pydict().values()))
    assert len(text) == m["docs"] == gen.CORPUS_DOCS
    assert all(text[a].lower() == text[b].lower() for a, b in m["exact"])
    assert all(text[a] != text[b] for a, b in m["near"])
    lo, hi = gen.DOC_WORDS
    assert all(lo <= len(t.split(" ")) <= hi for t in text.values())
    assert all(len(text[a].split(" ")) >= gen.NEAR_MIN_WORDS for a, _ in m["near"])
    queries = pq.read_table(tmp_path / "queries.parquet").to_pydict()["text"]
    assert queries == [text[d] for d in m["queries"]]

    stream = gen.IngestStream(4, str(tmp_path / "ingest"))
    committed = set(stream.standing)
    for b in (stream.next_batch() for _ in range(4)):
        ids = pq.read_table(b["path"]).to_pydict()["doc_id"]
        assert sorted(set(ids) - {d for _, d in b["exact"]}) == b["survivors"]
        assert {s for s, _ in b["exact"]} <= committed
        committed.update(b["survivors"])


def test_generator_never_writes_outside_its_directory(tmp_path):
    before = set(os.listdir(tmp_path))
    _ingest(5, str(tmp_path / "only"))
    assert set(os.listdir(tmp_path)) - before == {"only"}


def _relative(m):
    """Manifest with file paths cut to their names."""
    if isinstance(m, dict):
        return {k: os.path.basename(v) if k == "path" else _relative(v) for k, v in m.items()}
    if isinstance(m, list):
        return [_relative(v) for v in m]
    return m


def _csv(path):
    import csv

    with open(path, newline="") as f:
        return list(csv.reader(f))[1:]
