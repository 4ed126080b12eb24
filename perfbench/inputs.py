"""Seeded inputs of the `queries` workload: tables and log files.

    write_tables(out_dir, n_docs, n_vecs, seed)
    write_log(path, file_bytes, seed)

`write_tables` writes the two tables the workload's `SparkEntry.queries`
rows read, `documents.parquet` and `embeddings.parquet`, with the column
names and types those rows expect. `write_log` writes a multi-line
hive-style `.log` file. The same arguments give the same files.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))


def write_tables(out_dir, n_docs, n_vecs, seed):
    """documents: texts of 10-99 words from a small vocabulary, with a
    language tag and one of 20 sources; embeddings: unit-norm 64-dim
    Gaussian vectors with one of 10 labels."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
             for n in rng.integers(10, 100, n_docs)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


LOG_CLASSES = [
    "org.apache.hadoop.mapred.MapTask", "org.apache.hadoop.hive.ql.exec.MapOperator",
    "org.apache.hadoop.hive.ql.exec.FileSinkOperator", "org.apache.hadoop.mapred.YarnChild",
    "org.apache.hadoop.io.compress.CodecPool", "org.apache.hadoop.hdfs.DFSClient"]
LOG_THREADS = ["[main]", "[IPC Client]", "[communication thread]", "[LeaseRenewer]"]
LOG_LEVELS = ["INFO", "INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR"]
LOG_FRAMES = [
    "org.apache.hadoop.hive.ql.exec.Operator.forward(Operator.java:838)",
    "org.apache.hadoop.mapred.MapRunner.run(MapRunner.java:54)",
    "org.apache.hadoop.hdfs.DFSOutputStream.writeChunk(DFSOutputStream.java:1654)",
    "java.security.AccessController.doPrivileged(Native Method)"]


def write_log(path, file_bytes, seed):
    """Writes about `file_bytes` of timestamped log lines with levels,
    threads, paths, hex ids, ints and floats; each ERROR line is followed by
    a multi-line stack trace, so events span several lines."""
    rng = random.Random(seed)
    t = datetime.datetime(2015, 3, 23) + datetime.timedelta(days=rng.randrange(1000))
    out, size = [], 0
    while size < file_bytes:
        t += datetime.timedelta(milliseconds=1 + rng.randrange(2000))
        level = rng.choice(LOG_LEVELS)
        kind = rng.randrange(4)
        if kind == 0:
            msg = (f"Processing split: /HiBench/Hive/Input/part-{rng.randrange(100000)}:"
                   f"{rng.randrange(1 << 20)}+{rng.randrange(1 << 26)}")
        elif kind == 1:
            msg = f"records written - {rng.randrange(1000000)}"
        elif kind == 2:
            msg = f"Got brand-new compressor 0x{rng.getrandbits(64):x}"
        else:
            msg = f"spill ratio {rng.randrange(100)}.{rng.randrange(1000)} in {rng.randrange(5000)} ms"
        line = (f"{t:%Y-%m-%d %H:%M:%S},{t.microsecond // 1000:03d} {level} "
                f"{rng.choice(LOG_THREADS)} {rng.choice(LOG_CLASSES)}: {msg}\n")
        if level == "ERROR":
            line += f"java.io.IOException: cannot write /tmp/hive/{rng.randrange(1000)}\n"
            line += "".join(f"\tat {rng.choice(LOG_FRAMES)}\n" for _ in range(2 + rng.randrange(6)))
        out.append(line)
        size += len(line)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="ascii", newline="") as f:
        f.write("".join(out))
