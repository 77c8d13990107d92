"""Seeded input generator for the benchmark.

Writes every input a workload consumes — Kafka-shaped record backlogs for
the sink workloads, the base corpus and crawl files for the ingest workload —
from ``--seed`` alone, before any timed region. It imports nothing from the
package under test (the program receives only the generated files), so a
change to the program can never change its own inputs.

Each input set is written to a directory the caller names per (seed,
scale), and reused when present: a ``DONE`` marker is written last, so an
interrupted generation is redone.

Every record or document is a pure function of the seed: the same seed gives
byte-identical files (``perfbench/tests/test_gen.py`` pins this).
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Kafka-record envelope, field for field the package's KAFKA_RECORD_SCHEMA
# (restated here so the generator stays independent of the program).
KAFKA_ARROW_SCHEMA = pa.schema(
    [
        pa.field("topic", pa.string(), nullable=False),
        pa.field("partition", pa.int32(), nullable=False),
        pa.field("offset", pa.int64(), nullable=False),
        pa.field("key", pa.string()),
        pa.field("value", pa.string()),
        pa.field("timestamp", pa.int64()),
        pa.field(
            "headers",
            pa.list_(
                pa.struct(
                    [
                        pa.field("key", pa.string(), nullable=False),
                        pa.field("value", pa.binary()),
                    ]
                )
            ),
        ),
    ]
)
DOC_ARROW_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
TRUTH_ARROW_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("kind", pa.string()), ("epoch", pa.int32())]
)

# distinct keys of the compacted topic: every key written becomes an object
FANOUT_KEYS = 5_000
STOPWORDS = ("the", "and", "of", "to", "is", "that", "for", "with", "was", "this")
BASE_TS_MS = 1_700_000_000_000


@dataclass(frozen=True)
class SinkScale:
    """Backlog shape of one sink workload."""

    files: int  # epochs available to the closed loop
    records_per_file: int
    audit_records: int  # the file set-up drains: JIT warm-up and audit target


@dataclass(frozen=True)
class CorpusScale:
    """Shape of the ingest workload's inputs."""

    base_docs: int  # accepted corpus the dedup index is built over
    files: int  # crawl epochs available to the closed loop
    fresh_per_file: int  # original documents per crawl epoch
    chain_lengths: tuple[int, ...]  # near-dup chain lengths per epoch


SINK_SCALES = {
    ("drain", "full"): SinkScale(files=10, records_per_file=12000, audit_records=12000),
    ("fanout", "full"): SinkScale(files=32, records_per_file=2000, audit_records=2000),
    ("drain", "tiny"): SinkScale(files=3, records_per_file=300, audit_records=50),
    ("fanout", "tiny"): SinkScale(files=3, records_per_file=300, audit_records=50),
}
CORPUS_SCALES = {
    # one crawl epoch: it already outlasts --seconds, and a fixed epoch count
    # keeps the read-back's input the same size whatever the epoch time
    "full": CorpusScale(
        base_docs=100, files=1, fresh_per_file=80, chain_lengths=(3,)
    ),
    "tiny": CorpusScale(base_docs=20, files=1, fresh_per_file=12, chain_lengths=(3,)),
}


def source_digest() -> str:
    """Digest of this file: part of the input cache key, so a changed
    generator never serves inputs an older version wrote."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    """Prose-shaped word list: about one word in four is an English
    stopword, so the quality floor scores it as natural text."""
    return [
        rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(vocab)
        for _ in range(n)
    ]


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "DONE"))


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    with open(os.path.join(path, "DONE"), "w") as f:
        f.write("ok\n")


# -- sink backlogs -----------------------------------------------------------


class _ZipfKeys:
    """Zipf(s=1.1) ranks over ``n`` keys by inverse-CDF lookup."""

    def __init__(self, n: int, s: float = 1.1):
        total, cum = 0.0, []
        for rank in range(1, n + 1):
            total += rank ** -s
            cum.append(total)
        self._cum = [c / total for c in cum]

    def draw(self, rng: random.Random) -> int:
        return min(bisect.bisect_left(self._cum, rng.random()), len(self._cum) - 1)


def _drain_records(rng, text, offsets, n):
    """~1 KB JSON values cut from a seeded prose stream, over 3 topics x 4
    partitions with per-partition contiguous offsets."""
    rows = []
    for _ in range(n):
        topic = f"orders-{rng.randrange(3)}"
        part = rng.randrange(4)
        off = offsets.get((topic, part), 0)
        offsets[(topic, part)] = off + 1
        start = rng.randrange(len(text) - 1000)
        value = json.dumps(
            {
                "order": off,
                "user": rng.randrange(50_000),
                "amount": rng.randrange(1, 100_000) / 100,
                "note": text[start : start + rng.randint(850, 1000)],
            }
        )
        rows.append((topic, part, off, f"user-{rng.randrange(50_000)}", value,
                     BASE_TS_MS + off))
    return rows


def _fanout_records(rng, keys, offsets, n):
    """Compacted-topic updates: Zipf-skewed keys over FANOUT_KEYS values, ~50 B
    values, one topic, key-hashed partitions (Kafka's default partitioner
    keeps every key in one partition, so offsets order each key's updates)."""
    rows = []
    for _ in range(n):
        k = keys.draw(rng)
        part = k % 4
        off = offsets.get(part, 0)
        offsets[part] = off + 1
        value = json.dumps({"sku": k, "qty": rng.randrange(1000), "rev": off})
        rows.append(("inventory", part, off, f"sku-{k:05d}", value, BASE_TS_MS + off))
    return rows


def _write_records(path: str, rows) -> None:
    cols = list(zip(*rows)) if rows else [[]] * 6
    table = pa.table(
        {
            "topic": pa.array(cols[0], pa.string()),
            "partition": pa.array(cols[1], pa.int32()),
            "offset": pa.array(cols[2], pa.int64()),
            "key": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.string()),
            "timestamp": pa.array(cols[5], pa.int64()),
            "headers": pa.nulls(len(rows), KAFKA_ARROW_SCHEMA.field("headers").type),
        },
        schema=KAFKA_ARROW_SCHEMA,
    )
    pq.write_table(table, path)


def sink_backlog(out_dir: str, kind: str, seed: int, scale: SinkScale) -> str:
    """Write (or reuse) the backlog of one sink workload:
    ``<out>/backlog/e00000.parquet ...`` (one file per epoch) and
    ``<out>/audit/a.parquet`` (an epoch-sized file on a topic of its own,
    which set-up drains and the audit then reads back). ``kind`` is
    ``"drain"`` or ``"fanout"``."""
    if _ready(out_dir):
        return out_dir
    _fresh_dir(out_dir)
    rng = random.Random(f"sink-{kind}-{seed}")
    os.makedirs(os.path.join(out_dir, "backlog"))
    os.makedirs(os.path.join(out_dir, "audit"))
    if kind == "drain":
        vocab = _vocabulary(rng, 4000)
        text = " ".join(_words(rng, vocab, 60_000))
        offsets: dict = {}
        make = lambda n: _drain_records(rng, text, offsets, n)  # noqa: E731
    elif kind == "fanout":
        keys = _ZipfKeys(FANOUT_KEYS)
        offsets = {}
        make = lambda n: _fanout_records(rng, keys, offsets, n)  # noqa: E731
    else:
        raise ValueError(f"unknown sink backlog kind {kind!r}")
    for e in range(scale.files):
        _write_records(
            os.path.join(out_dir, "backlog", f"e{e:05d}.parquet"),
            make(scale.records_per_file),
        )
    # same stream, renamed topics: offsets stay contiguous per partition
    audit = [("audit-" + r[0],) + r[1:] for r in make(scale.audit_records)]
    _write_records(os.path.join(out_dir, "audit", "a.parquet"), audit)
    _mark_done(out_dir, {"kind": kind, "seed": seed, "scale": scale.__dict__})
    return out_dir


# -- LLM corpus --------------------------------------------------------------


def _edit(rng: random.Random, words: list[str], vocab: list[str], n: int) -> list[str]:
    """Replace ``n`` distinct positions with different vocabulary words."""
    out = list(words)
    for pos in rng.sample(range(len(out)), n):
        w = out[pos]
        while w == out[pos]:
            w = rng.choice(vocab)
        out[pos] = w
    return out


def _junk(rng: random.Random) -> str:
    """Short, punctuation-dense, stopword-free: far below any sane quality
    floor (length, stopword and punctuation terms all score ~0)."""
    return " ".join(
        "".join(rng.choice("!?$#%*@&") for _ in range(rng.randint(2, 5)))
        + rng.choice(("buy", "win", "free", "click"))
        for _ in range(rng.randint(3, 8))
    )


def corpus_inputs(out_dir: str, seed: int, scale: CorpusScale) -> str:
    """Write (or reuse) the ingest workload's inputs:

    - ``base.parquet``: the accepted corpus the dedup index is built over;
    - ``crawl/e00000.parquet ...``: one crawl file (doc_id, text) per epoch;
    - ``truth.parquet``: (doc_id, kind, epoch) ground truth the program never
      sees. Kinds: ``original`` (fresh prose, 80-400 words), ``chain_head``
      (original that starts a near-dup chain), ``hist_exact`` / ``hist_near``
      (exact copy / one-word edit of a base or earlier-epoch original),
      ``epoch_exact`` (copy of an original in the same file), ``chain``
      (two-word edit of the previous chain member: adjacent members are near
      dups, members two apart are not, so a chain of length L needs L-1
      label-propagation rounds), ``junk`` (below the quality floor).

    Within a file, ids are a seeded permutation, re-dealt per dependency
    group so an original always holds the smallest id of its group (the
    cascade keeps the min id); the rest of a chain is in random id order, so
    an unconverged connected-components pass leaves extra canonicals."""
    if _ready(out_dir):
        return out_dir
    _fresh_dir(out_dir)
    os.makedirs(os.path.join(out_dir, "crawl"))
    rng = random.Random(f"corpus-{seed}")
    vocab = _vocabulary(rng, 4000)

    def prose(lo=80, hi=400):
        return _words(rng, vocab, rng.randint(lo, hi))

    base = [(i + 1, " ".join(prose())) for i in range(scale.base_docs)]
    pq.write_table(
        pa.table({"doc_id": [d for d, _ in base], "text": [t for _, t in base]},
                 schema=DOC_ARROW_SCHEMA),
        os.path.join(out_dir, "base.parquet"),
    )
    history = [t for _, t in base]  # texts every later epoch may duplicate
    truth = []
    next_id = 1_000_000
    for e in range(scale.files):
        groups = []  # each group: [(kind, text), ...], head first
        fresh = [prose() for _ in range(scale.fresh_per_file)]
        for words in fresh:
            group = [("original", " ".join(words))]
            if rng.random() < 0.1:
                group.append(("epoch_exact", group[0][1]))
            groups.append(group)
        n_hist = max(1, scale.fresh_per_file // 5)
        for _ in range(n_hist):
            src = rng.choice(history)
            if rng.random() < 0.5:
                groups.append([("hist_exact", src)])
            else:
                groups.append([("hist_near", " ".join(_edit(rng, src.split(), vocab, 1)))])
        for length in scale.chain_lengths:
            words = prose(100, 100)
            group = [("chain_head", " ".join(words))]
            for _ in range(length - 1):
                words = _edit(rng, words, vocab, 2)
                group.append(("chain", " ".join(words)))
            groups.append(group)
        for _ in range(max(1, scale.fresh_per_file // 8)):
            groups.append([("junk", _junk(rng))])

        n = sum(len(g) for g in groups)
        ids = list(range(next_id, next_id + n))
        next_id += n
        rng.shuffle(ids)
        rows, pos = [], 0
        for group in groups:
            got = sorted(ids[pos : pos + len(group)])
            pos += len(group)
            rest = got[1:]
            rng.shuffle(rest)
            for (kind, text), doc_id in zip(group, [got[0]] + rest):
                rows.append((doc_id, text))
                truth.append((doc_id, kind, e))
        rng.shuffle(rows)
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
                     schema=DOC_ARROW_SCHEMA),
            os.path.join(out_dir, "crawl", f"e{e:05d}.parquet"),
        )
        history.extend(" ".join(w) for w in fresh)
    pq.write_table(
        pa.table(
            {
                "doc_id": [t[0] for t in truth],
                "kind": [t[1] for t in truth],
                "epoch": [t[2] for t in truth],
            },
            schema=TRUTH_ARROW_SCHEMA,
        ),
        os.path.join(out_dir, "truth.parquet"),
    )
    _mark_done(out_dir, {"seed": seed, "scale": scale.__dict__})
    return out_dir
