"""Seeded input generators.

Everything the program reads is made here from ``--seed``: the same seed
gives byte-identical inputs.  Nothing stamps wall-clock time into the data
(``tools/loggen.py`` does, and is unseeded, so it is not used).

Each generator also returns what a correct delivery must look like: the
message count and an order-independent payload digest (:func:`digest`
summed modulo 2**64), so a lost, duplicated or altered message shows.
"""

from __future__ import annotations

import os
import zlib

import numpy as np

SEQ_WIDTH = 10          # every payload starts with its zero-padded sequence number
MASK64 = (1 << 64) - 1
THRIFT_BYTES = 24 << 20  # size of a Thrift backlog
THRIFT_FILES = 8        # rotated files in a Thrift backlog
THRIFT_KEYS = 10_000    # distinct message keys
LINE_BYTES = 200        # median text line length
TEXT_RATE_MB_S = 2.0    # offered text load (see README: highest steady rate here)


def digest(payload: bytes) -> int:
    """64-bit fingerprint of one payload: crc32 in the high word, adler32 in
    the low word.  Summed over a delivery it is independent of order."""
    return (zlib.crc32(payload) << 32) | zlib.adler32(payload)


def _text_pool(rng: np.random.Generator, size: int = 1 << 20) -> bytes:
    """Printable filler the payloads are sliced from (letters and spaces)."""
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype=np.uint8)
    return alphabet[rng.integers(0, len(alphabet), size)].tobytes()


def thrift_backlog(out_dir: str, seed: int) -> dict:
    """Write a backlog of ``THRIFT_FILES`` rotated framed-Thrift log files
    (``thrift.log.<n>``, oldest first) of about ``THRIFT_BYTES`` in all.

    Message sizes are lognormal (median 300 B, sigma 1.0, clipped to
    [24 B, 16 KiB]); keys are Zipf-skewed (a=1.2) over ``THRIFT_KEYS`` keys.
    Frames come from ``framing.encode_log_message``."""
    from singer_spark.framing import encode_log_message

    rng = np.random.default_rng(seed)
    pool = _text_pool(rng)
    est = THRIFT_BYTES // 300
    sizes = np.clip(rng.lognormal(np.log(300), 1.0, est), 24, 16384).astype(np.int64)
    keys = (rng.zipf(1.2, est) - 1) % THRIFT_KEYS
    offs = rng.integers(0, len(pool) - 16384, est)
    os.makedirs(out_dir, exist_ok=True)
    per_file = THRIFT_BYTES // THRIFT_FILES
    n = payload_bytes = framed = dsum = 0
    for fi in range(THRIFT_FILES):
        frames = []
        size = 0
        while size < per_file and n < est:
            body = pool[offs[n]: offs[n] + sizes[n] - SEQ_WIDTH - 1]
            payload = b"%010d|%s" % (n, body)
            frame = encode_log_message(payload, key=b"k%05d" % keys[n],
                                       timestamp_nanos=1_700_000_000_000_000_000 + n * 1000)
            frames.append(frame)
            size += len(frame)
            payload_bytes += len(payload)
            dsum = (dsum + digest(payload)) & MASK64
            n += 1
        with open(os.path.join(out_dir, f"thrift.log.{THRIFT_FILES - 1 - fi}"), "wb") as f:
            f.write(b"".join(frames))
        framed += size
    return {"messages": n, "payload_bytes": payload_bytes,
            "framed_bytes": framed, "digest": dsum}


LEVELS = (b"INFO", b"WARN", b"ERROR", b"DEBUG")
KEEP_REGEX = " (INFO|WARN|ERROR) "   # the pipeline's filter: drops DEBUG lines


class TextLoad:
    """The open-loop text workload: ``n`` lines due at ``TEXT_RATE_MB_S``.

    Line ``i`` is ``<seq:10> <due_us:12> <LEVEL> <filler>\\n`` and is due
    ``due_us`` microseconds after the load starts.  About 5% are DEBUG,
    which the pipeline's filter drops.  Line lengths are lognormal
    (median ``LINE_BYTES``).  The whole load is built before it starts, so
    the writer only copies bytes while it runs."""

    def __init__(self, seed: int, seconds: float):
        rng = np.random.default_rng(seed)
        pool = _text_pool(rng)
        lens = np.clip(rng.lognormal(np.log(LINE_BYTES), 0.5, 1 << 20),
                       48, 4096).astype(np.int64)
        mean = float(lens.mean())
        self.rate_lines = TEXT_RATE_MB_S * 1e6 / mean
        n = int(self.rate_lines * seconds)
        if n > len(lens):
            raise ValueError(f"text load of {n} lines exceeds the generator's {len(lens)}")
        lens = lens[:n]
        levels = rng.choice(4, n, p=[0.80, 0.10, 0.05, 0.05])
        offs = rng.integers(0, len(pool) - 4096, n)
        self.due_s = np.arange(n, dtype=np.float64) / self.rate_lines
        lines = []
        keep = np.zeros(n, dtype=bool)
        dsum = 0
        for i in range(n):
            lvl = LEVELS[levels[i]]
            head = b"%010d %012d %s " % (i, int(self.due_s[i] * 1e6), lvl)
            line = head + pool[offs[i]: offs[i] + max(lens[i] - len(head) - 1, 1)]
            lines.append(line)
            if lvl != b"DEBUG":
                keep[i] = True
                dsum = (dsum + digest(line)) & MASK64
        self.buf = b"\n".join(lines) + b"\n"
        ends = np.cumsum(np.fromiter((len(x) + 1 for x in lines), np.int64, n))
        self.ends = ends                  # byte offset just past line i
        self.n = n
        self.keep = keep
        self.expected = {"kept": int(keep.sum()), "digest": dsum}


WORDS = ("key agg row scan slow fast table value part hash merge batch spark a the "
         "line sort window join small customer query order data column stream "
         "filter group big vector").split()
LANGS = ("en", "zh", "es", "de", "fr")
CORPUS_DOCS = 500
CORPUS_VECS = 500


def corpus_tables(out_dir: str, seed: int) -> None:
    """Write the tables the corpus queries read, as ``<table>.parquet`` in
    ``out_dir``, in the shape of the program's 0.01-scale test tables:

    - ``documents``: word-salad texts of 8-100 words over a 31-word
      vocabulary; every twentieth document is an earlier one with ``" dup"``
      appended, so near-duplicate detection has pairs to find;
    - ``embeddings``: 64-dim unit vectors (float32) around 10 labelled
      centres."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    for i in range(CORPUS_DOCS):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(CORPUS_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[x] for x in rng.integers(0, len(LANGS), CORPUS_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(CORPUS_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    centres = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, CORPUS_VECS)
    vecs = centres[labels] + rng.normal(0, 1.5, (CORPUS_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(CORPUS_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))

