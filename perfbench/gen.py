"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (workload, seed, size): the same
arguments give byte-identical files.  The vocabulary and the key names are
fixed per workload (derived from a constant, not from the seed), so a seed
changes the sampled text or op log but not which word or key is hottest;
that keeps the hot key on the same reducer from seed to seed.

The program under test only ever sees the files written here.  Oracles that
have a closed form (the KV replay) are written next to the inputs as
``oracle.json``; the MapReduce oracles are computed by the harness from
``MapReduce.runSequential`` and cached in the same place.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SEED = 20120827  # fixes the word list and key names, never the draws
MASK64 = (1 << 64) - 1


def line_digest(lines):
    """Order-independent digest of a multiset of text lines.

    Sum (mod 2^64) of the first eight bytes of each line's MD5, read
    little-endian, plus the line count.  The harness computes the same
    function over a job's committed output.
    """
    total = 0
    n = 0
    for line in lines:
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "little")
        n += 1
    return {"lines": n, "sum": f"{total & MASK64:016x}"}


def _vocabulary(n_words):
    rng = np.random.default_rng(VOCAB_SEED)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words, seen = [], set()
    while len(words) < n_words:
        length = int(rng.integers(2, 11))
        w = letters[rng.integers(0, 26, size=length)].tobytes().decode()
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def _zipf_ranks(rng, n_items, exponent, n_draws):
    weights = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** exponent
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n_draws)), n_items - 1)


def _write_text_files(out, rng, vocab, n_files, file_bytes):
    """Writes ``n_files`` files of about ``file_bytes`` Zipf(1.0) text each,
    twelve words to a line."""
    weights = 1.0 / np.arange(1, len(vocab) + 1, dtype=np.float64)
    lengths = np.array([len(w) for w in vocab], dtype=np.float64)
    avg_word = float((weights * lengths).sum() / weights.sum()) + 1.0
    for f in range(n_files):
        n = int(file_bytes / avg_word)
        words = vocab[_zipf_ranks(rng, len(vocab), 1.0, n)]
        lines = [" ".join(words[i:i + 12]) for i in range(0, n, 12)]
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(out, f"part-{f:05d}.txt"), "wb") as fh:
            fh.write(data)


def gen_text(out, seed, n_files, file_bytes, vocab_size):
    rng = np.random.default_rng(seed)
    _write_text_files(out, rng, _vocabulary(vocab_size), n_files, file_bytes)
    return {"files": n_files, "bytes": sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))}


def gen_kv(out, seed, n_ops, n_keys, n_files):
    """A Put log on Zipf(0.9)-skewed keys with a closed-form final state.

    Each op is drawn as one of: correct (carries the key's current version,
    applies), stale (a wrong version: ErrVersion, or ErrNoKey before the key
    exists), retried-stale (ErrMaybe, or ErrNoKey before the key exists) or
    a Put to a key that is never created (ErrNoKey).  A key's version after
    replay is its number of applied ops and its value is that of its last
    applied op, so the expected per-key result follows from the draws.
    """
    rng = np.random.default_rng(seed)
    names = np.random.default_rng(VOCAB_SEED).permutation(n_keys)
    rank = _zipf_ranks(rng, n_keys, 0.9, n_ops)
    kind = np.searchsorted(np.cumsum([0.88, 0.06, 0.04, 0.02]), rng.random(n_ops),
                           side="right")  # 0 correct, 1 stale, 2 retried, 3 missing
    key = names[rank].astype(np.int64)
    key = np.where(kind == 3, n_keys + key, key)  # never-created twin keys
    correct = kind == 0
    seq = np.arange(n_ops, dtype=np.int64)

    order = np.argsort(key, kind="stable")
    k_sorted = key[order]
    c_sorted = correct[order].astype(np.int64)
    before = np.cumsum(c_sorted) - c_sorted  # correct ops before, over all keys
    starts = np.flatnonzero(np.r_[True, k_sorted[1:] != k_sorted[:-1]])
    group = np.cumsum(np.r_[True, k_sorted[1:] != k_sorted[:-1]]) - 1
    applied_before = np.empty(n_ops, dtype=np.int64)
    applied_before[order] = before - before[starts][group]

    version = np.where(correct, applied_before,
                       applied_before + 1 + rng.integers(0, 4, size=n_ops))
    retried = (kind == 2) | (correct & (rng.random(n_ops) < 0.01))

    table = pa.table({
        "key": _key_strings(key),
        "value": pa.array(seq).cast(pa.string()),
        "version": pa.array(version),
        "retried": pa.array(retried),
        "seq": pa.array(seq),
    })
    rows = (n_ops + n_files - 1) // n_files
    for i in range(n_files):
        pq.write_table(table.slice(i * rows, rows),
                       os.path.join(out, f"ops-{i:03d}.parquet"))

    # closed-form expectation
    uniq, counts = np.unique(key, return_counts=True)
    idx = np.searchsorted(uniq, key)
    applied = np.bincount(idx, weights=correct, minlength=len(uniq)).astype(np.int64)
    last = np.full(len(uniq), -1, dtype=np.int64)
    np.maximum.at(last, idx[correct], seq[correct])
    lines = (f"k{k:07d}\t{'' if s < 0 else s}\t{a}\t{a}\t{c - a}"
             for k, s, a, c in zip(uniq.tolist(), last.tolist(),
                                   applied.tolist(), counts.tolist()))
    exists = applied_before > 0
    oracle = line_digest(lines)
    oracle.update({
        "ops": int(n_ops),
        "applied": int(correct.sum()),
        "rejected": int(n_ops - correct.sum()),
        "maybe": int(((~correct) & retried & exists).sum()),
        "no_key": int(((~correct) & ~exists).sum()),
        "keys": int(len(uniq)),
    })
    return oracle


def _key_strings(key):
    uniq, inverse = np.unique(key, return_inverse=True)
    dictionary = pa.array([f"k{k:07d}" for k in uniq.tolist()], pa.string())
    return pa.DictionaryArray.from_arrays(
        pa.array(inverse.astype(np.int32)), dictionary).cast(pa.string())


def generate(workload, seed, size, out):
    """Generates ``workload``'s inputs for ``seed`` into ``out`` and returns
    a description.  Data goes to ``out/data/``; a closed-form oracle goes
    to ``out/oracle.json``."""
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "mr_wc_zipf":
        desc = gen_text(data, seed, size["files"], size["file_bytes"], size["vocab"])
    elif workload == "kv_cas_zipf":
        oracle = gen_kv(data, seed, size["ops"], size["keys"], size["files"])
        with open(os.path.join(out, "oracle.json"), "w") as fh:
            json.dump(oracle, fh)
        desc = {"ops": size["ops"], "keys": size["keys"]}
    else:
        raise ValueError(f"unknown workload {workload}")
    return desc
