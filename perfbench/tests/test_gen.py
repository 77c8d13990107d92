"""The input generator is a pure function of the seed."""

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402


def _tree_bytes(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_sink_backlogs_are_deterministic(tmp_path):
    for kind in ("drain", "fanout"):
        scale = gen.SINK_SCALES[(kind, "tiny")]
        a = gen.sink_backlog(str(tmp_path / f"{kind}-a"), kind, 5, scale)
        b = gen.sink_backlog(str(tmp_path / f"{kind}-b"), kind, 5, scale)
        c = gen.sink_backlog(str(tmp_path / f"{kind}-c"), kind, 6, scale)
        assert _tree_bytes(a) == _tree_bytes(b)
        assert _tree_bytes(a) != _tree_bytes(c)


def test_sink_offsets_are_contiguous_per_partition(tmp_path):
    scale = gen.SINK_SCALES[("drain", "tiny")]
    d = gen.sink_backlog(str(tmp_path / "d"), "drain", 5, scale)
    seen = {}
    for f in sorted(os.listdir(os.path.join(d, "backlog"))):
        for r in pq.read_table(os.path.join(d, "backlog", f)).to_pylist():
            seen.setdefault((r["topic"], r["partition"]), []).append(r["offset"])
    for offsets in seen.values():
        assert offsets == list(range(len(offsets)))


def test_corpus_inputs_are_deterministic_and_ids_respect_groups(tmp_path):
    scale = gen.CORPUS_SCALES["tiny"]
    a = gen.corpus_inputs(str(tmp_path / "a"), 5, scale)
    b = gen.corpus_inputs(str(tmp_path / "b"), 5, scale)
    assert _tree_bytes(a) == _tree_bytes(b)
    truth = pq.read_table(os.path.join(a, "truth.parquet")).to_pylist()
    kinds = {t["kind"] for t in truth}
    assert {"original", "chain_head", "chain", "hist_exact", "hist_near", "junk"} <= kinds
    docs = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(os.path.join(a, "crawl", "e00000.parquet")).to_pylist()
    }
    # a same-epoch copy always carries a larger id than its original,
    # because the cascade keeps the smallest id of an exact class
    by_text = {}
    for t in truth:
        by_text.setdefault(docs[t["doc_id"]], []).append(t)
    for group in by_text.values():
        copies = [t for t in group if t["kind"] == "epoch_exact"]
        origs = [t for t in group if t["kind"] == "original"]
        for c in copies:
            assert origs and min(o["doc_id"] for o in origs) < c["doc_id"]
    heads = [t["doc_id"] for t in truth if t["kind"] == "chain_head"]
    chain = [t["doc_id"] for t in truth if t["kind"] == "chain"]
    assert min(heads) < max(chain)
