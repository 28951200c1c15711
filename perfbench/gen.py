"""Seeded input generator for the datastream benchmark.

Runs as its own OS process with a single writer thread. The benchmark
harness (the JVM side) drives it with one JSON command per line on
stdin; every command is answered with one JSON line on stdout.

Every file lands in its target directory by writing it under a hidden
name (leading '.', which Spark's file source never lists) and renaming
it, so the engine never reads a partial file.

Mirror events have the Kafka-record shape the engine's mirror
translate consumes: (topic, partition, offset, key, value, ts). `ts` is
the event's due time -- the instant the open-loop schedule meant it to
be published -- so source-to-destination latency can be read off the
destination later. The content hash covers everything but `ts`, so the
same seed always yields the same hash.
"""

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPICS = 8
PARTITIONS = 16
VALUE_BYTES = 256
KEY_SPACE = 100_000
KEY_WIDTH = 8  # b"k" + 7 digits

# Weights of the order-independent content hash: one row's hash is a
# wrapping dot product of its fields and 8-byte words with these odd
# 64-bit constants, and the content hash is the wrapping sum over rows.
# The benchmark computes the same sum over the destination's rows.
_WORDS = (VALUE_BYTES + KEY_WIDTH) // 8
_W = np.random.default_rng(0x6D6972726F72).integers(
    1, 2**63, size=_WORDS + 3, dtype=np.uint64) | np.uint64(1)

MIRROR_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def topic_name(i):
    return f"t{i}"


def row_hashes(topic_idx, partition, offset, key_u8, value_u8):
    """Per-row 64-bit hashes (wrapping arithmetic, uint64)."""
    words = np.hstack([np.ascontiguousarray(value_u8), np.ascontiguousarray(key_u8)])
    with np.errstate(over="ignore"):
        h = (words.view(np.uint64) * _W[:_WORDS]).sum(axis=1, dtype=np.uint64)
        h += topic_idx.astype(np.uint64) * _W[-3]
        h += partition.astype(np.uint64) * _W[-2]
        h += offset.astype(np.uint64) * _W[-1]
    return h


def wrap_sum(h):
    with np.errstate(over="ignore"):
        return int(np.sum(h, dtype=np.uint64))


def fixed_binary(u8):
    """A pyarrow binary array whose every value is one row of `u8`."""
    n, w = u8.shape
    offsets = np.arange(0, (n + 1) * w, w, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(u8.tobytes())])


def publish(table, directory, name):
    """Write `table` as `directory/name` via hidden-name-then-rename."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, "." + name + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, os.path.join(directory, name))


class MirrorSource:
    """8 topics x 16 partitions, Zipf-skewed keys, 250 B values.

    Offsets are dense per (topic, partition) and continue across every
    batch this object makes, whichever phase makes it."""

    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)
        self.next_offset = np.zeros(TOPICS * PARTITIONS, dtype=np.int64)
        self.events = 0
        self.hash = 0
        self.files = 0

    def batch(self, n, due_us, span_us=0):
        """`n` events, the i-th due at due_us - span_us + (i+1)*span_us/n."""
        rng = self.rng
        key_id = np.minimum(rng.zipf(1.2, size=n), KEY_SPACE) - 1
        topic = rng.integers(0, TOPICS, size=n)
        partition = (key_id * 2654435761 % PARTITIONS).astype(np.int32)
        tp = topic * PARTITIONS + partition
        # offsets: dense per (topic, partition), in arrival order
        order = np.argsort(tp, kind="stable")
        counts = np.bincount(tp, minlength=TOPICS * PARTITIONS)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(n) - np.repeat(starts, counts)
        offset = self.next_offset[tp] + rank
        self.next_offset += counts
        key_u8 = np.empty((n, KEY_WIDTH), dtype=np.uint8)
        key_u8[:, 0] = ord("k")
        key_u8[:, 1:] = (key_id[:, None] // 10 ** np.arange(KEY_WIDTH - 2, -1, -1)) % 10 + ord("0")
        value_u8 = np.frombuffer(rng.bytes(n * VALUE_BYTES), dtype=np.uint8).reshape(
            n, VALUE_BYTES)
        self.events += n
        with np.errstate(over="ignore"):
            self.hash = (self.hash + wrap_sum(
                row_hashes(topic, partition, offset, key_u8, value_u8))) % 2**64
        topics = np.array([topic_name(i) for i in range(TOPICS)], dtype=object)
        return pa.table({
            "topic": pa.array(topics[topic], pa.string()),
            "partition": pa.array(partition, pa.int32()),
            "offset": pa.array(offset, pa.int64()),
            "key": fixed_binary(key_u8),
            "value": fixed_binary(value_u8),
            "ts": pa.array(due_us - span_us + (np.arange(1, n + 1) * span_us) // n,
                           pa.timestamp("us", tz="UTC")),
        }, schema=MIRROR_SCHEMA)

    def write(self, directory, n, due_us, span_us=0):
        self.files += 1
        publish(self.batch(n, due_us, span_us), directory, f"ev-{self.files:07d}.parquet")

    def steady(self, directory, rate, file_ms, seconds):
        """Open loop at `rate` events/s for `seconds`: every `file_ms` one
        file holds the events due in the slot it closes (due times spread
        evenly over the slot). A file is due at its slot's end, however
        late the writer runs; returns how late it ran."""
        per_file = max(1, int(round(rate * file_ms / 1000.0)))
        slots = int(round(seconds * 1000.0 / file_ms))
        t0 = time.time() + 0.05
        late_max = 0.0
        for i in range(slots):
            due = t0 + (i + 1) * file_ms / 1000.0
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.write(directory, per_file, int(due * 1e6), file_ms * 1000)
            late_max = max(late_max, (time.time() - due) * 1000.0)
        return {"start_ms": t0 * 1000.0, "end_ms": (t0 + slots * file_ms / 1000.0) * 1000.0,
                "late_max_ms": late_max}


VOCAB_ZIPF = 1.15


def documents(seed, first_id, n, vocab, words, dim, clusters):
    """`n` documents: Zipf-vocabulary text plus clustered embeddings."""
    rng = np.random.default_rng([seed, first_id])
    centers = np.random.default_rng([seed, 7]).normal(size=(clusters, dim))
    w = np.minimum(rng.zipf(VOCAB_ZIPF, size=(n, words)), vocab) - 1
    text = [" ".join(f"w{t}" for t in row) for row in w]
    cl = rng.integers(0, clusters, size=n)
    emb = (centers[cl] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    })


def lifecycle_files(stage, cycles, rows):
    """Per cycle: a.parquet (dropped before start) and b.parquet
    (dropped before resume), hidden until the harness renames them."""
    for c in range(cycles):
        for part, base in (("a", 0), ("b", rows)):
            ids = np.arange(base, base + rows, dtype=np.int64)
            t = pa.table({
                "id": pa.array(ids),
                "cycle": pa.array(np.full(rows, c, dtype=np.int32)),
                "payload": pa.array([f"c{c}-r{i}" for i in ids], pa.string()),
            })
            publish(t, os.path.join(stage, f"c{c:05d}"), f".{part}.parquet")


def serve(seed, inp=sys.stdin, out=sys.stdout):
    mirror = MirrorSource(seed)
    staged = {}
    for line in inp:
        line = line.strip()
        if not line:
            continue
        cmd = json.loads(line)
        op = cmd["cmd"]
        reply = {"ok": True}
        if op == "drop":
            mirror.write(cmd["dir"], cmd["events"], int(time.time() * 1e6))
        elif op == "steady":
            reply.update(mirror.steady(cmd["dir"], cmd["rate"], cmd["file_ms"],
                                       cmd["seconds"]))
        elif op == "stage":
            # a backlog written now, hidden, for a later `publish`
            names = []
            for _ in range(cmd["files"]):
                mirror.files += 1
                name = f"ev-{mirror.files:07d}.parquet"
                publish(mirror.batch(cmd["events"] // cmd["files"], int(time.time() * 1e6)),
                        cmd["stage"], "." + name)
                names.append(name)
            staged[cmd["tag"]] = (cmd["stage"], names)
            reply["events"] = (cmd["events"] // cmd["files"]) * cmd["files"]
        elif op == "publish":
            stage, names = staged.pop(cmd["tag"])
            os.makedirs(cmd["dir"], exist_ok=True)
            for name in names:
                os.rename(os.path.join(stage, "." + name), os.path.join(cmd["dir"], name))
        elif op == "manifest":
            reply.update(events=mirror.events, hash=str(mirror.hash))
        elif op == "docs":
            t = documents(seed, cmd["first_id"], cmd["n"], cmd["vocab"],
                          cmd["words"], cmd["dim"], cmd["clusters"])
            publish(t, os.path.dirname(cmd["out"]), os.path.basename(cmd["out"]))
        elif op == "lifecycle":
            lifecycle_files(cmd["stage"], cmd["cycles"], cmd["rows"])
        elif op == "quit":
            out.write(json.dumps(reply) + "\n")
            out.flush()
            return
        else:
            reply = {"ok": False, "error": f"unknown command {op}"}
        out.write(json.dumps(reply) + "\n")
        out.flush()


if __name__ == "__main__":
    serve(int(sys.argv[1]))
