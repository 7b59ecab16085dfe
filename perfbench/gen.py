"""Seeded input generators and the open-loop file publisher.

Stream inputs are newline-delimited JSON transactions (the Kafka value
format of the remittance topic), one file per publish period. Every file
is encoded before timing starts. Event times are offsets from a fixed
logical run start (``BASE_MS``) and advance at the offered rate, as if each
record were created when it is due: in the open loop, event time runs at
the speed of the wall clock. A record's due time is the run's wall clock
start plus its file's offset, and the files of one seed are byte-identical
on every machine and every run.

Corpus inputs are synthetic documents with planted exact-duplicate groups
and planted near-duplicate edits.

Run as a script, this module is the publisher process:

    python3 perfbench/gen.py publish --staging DIR --target DIR \
        --t0 EPOCH_S --period-ms 100 --files 80 --log FILE

It renames ``part-<k>.json`` from the staging directory into the target
directory when file k is due (t0 + (k + 1) * period) and writes how late
each rename ran to the log file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Logical run start in event time: half a 10 s window past a window
# boundary, so the open loop takes the watermark past the end of its first
# window 10 s in, and past the end of one more window every 10 s after.
BASE_MS = 1_700_000_005_000
WATERMARK_MS = 5_000
# The traffic shape. None of these shares comes from observed traffic: the
# reference generator sends only well-formed, unique, in-order records with
# uniform keys. They are planted so that every run exercises, and the checks
# count exactly, each path the job has for imperfect input.
# Key skew: the Zipf constant of YCSB's default request distribution.
ZIPF_S = 0.99
MALFORMED = 0.01  # unparseable or incomplete lines
LATE = 0.005  # records far behind the watermark
# Disorder inside the 5 s bounded out-of-orderness of the reference's risk
# path, with room left for a redelivered copy and for batch boundaries, so
# no on-time record is ever dropped as late.
MAX_DISORDER_MS = 1_500
# Planted late rows sit this far behind their file's nominal event time,
# far past the 5 s watermark whatever the batch boundaries are.
LATE_BEHIND_MS = 120_000
# The generator's own currency table (same shape as the reference job:
# six currencies, one with a zero rate, which the window metrics count as
# a failure).
RATES = {"USD": 1.0, "NPR": 132.5, "INR": 83.2, "CNY": 0.0, "AUD": 1.52, "EUR": 0.92}
RISK_THRESHOLD = 1000.0


@dataclass
class StreamSpec:
    files: int
    per_file: int
    events_per_s: float  # records per second of event time: the offered rate
    senders: int = 1_000_000
    # At-least-once redelivery share: a few hundred copies per run, enough
    # to count deduplication exactly.
    redeliver: float = 0.02
    # A query's first two micro-batches drop no late rows (there is no
    # earlier watermark yet), so late rows are planted from this file on,
    # where they are expected to be dropped.
    first_late_file: int = 10


@dataclass
class StreamData:
    files: list[bytes]
    # One row per valid (parseable) published record, redelivered copies
    # included: tx, file, sender, amount, rate, ts, late, redelivered.
    events: pd.DataFrame
    published_rows: np.ndarray  # lines per file, malformed included
    malformed_rows: int


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def _malformed_line(kind: int, tx: str) -> str:
    if kind == 0:  # truncated JSON
        return f'{{"transactionId":"{tx}","senderId":"S0","amou'
    if kind == 1:  # valid JSON without the event time
        return f'{{"transactionId":"{tx}","senderId":"S0","amount":5.0}}'
    return f"not-json {tx}"


def generate_stream(seed: int, spec: StreamSpec) -> StreamData:
    """Encode ``spec.files`` files of ``spec.per_file`` records each."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = spec.files * spec.per_file
    file_of = np.repeat(np.arange(spec.files), spec.per_file)
    slot = np.tile(np.arange(spec.per_file), spec.files)
    event_ms = round(spec.per_file * 1000 / spec.events_per_s)  # event time one file spans
    nominal = file_of * event_ms + rng.integers(0, event_ms, n)
    disorder = rng.integers(0, MAX_DISORDER_MS + 1, n)
    cdf = _zipf_cdf(spec.senders, ZIPF_S)
    sender = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), spec.senders - 1)
    receiver = rng.integers(0, 50_000, n)
    amount = np.round(rng.uniform(1.0, 2000.0, n), 2)
    currencies = list(RATES)
    cur = rng.integers(0, len(currencies), n)
    u = rng.random(n)
    malformed = u < MALFORMED
    late = (file_of >= spec.first_late_file) & (u >= MALFORMED) & (u < MALFORMED + LATE)
    ts = BASE_MS + nominal - np.where(late, LATE_BEHIND_MS, disorder)
    bad_kind = rng.integers(0, 3, n)

    lines: list[list[str]] = [[] for _ in range(spec.files)]
    rows = []
    for i in range(n):
        k = int(file_of[i])
        tx = f"T{k:06d}-{int(slot[i]):05d}"
        if malformed[i]:
            lines[k].append(_malformed_line(int(bad_kind[i]), tx))
            continue
        c = currencies[int(cur[i])]
        line = (
            f'{{"transactionId":"{tx}","senderId":"S{int(sender[i]):07d}",'
            f'"receiverId":"R{int(receiver[i]):05d}","amount":{amount[i]:.2f},'
            f'"currency":"{c}","exchangeRate":{RATES[c]!r},"timestamp":{int(ts[i])}}}'
        )
        lines[k].append(line)
        rows.append((tx, k, f"S{int(sender[i]):07d}", float(amount[i]), RATES[c], int(ts[i]), bool(late[i]), False, line))

    if spec.redeliver > 0:
        # At-least-once redelivery: an identical copy of a valid on-time
        # record, published one or two files later.
        pick = rng.random(len(rows)) < spec.redeliver
        delay = rng.integers(1, 3, len(rows))
        for j in np.flatnonzero(pick):
            tx, k, s, a, r, t, is_late, _, line = rows[j]
            k2 = k + int(delay[j])
            if is_late or k2 >= spec.files:
                continue
            lines[k2].append(line)
            rows.append((tx, k2, s, a, r, t, False, True, line))

    events = pd.DataFrame(
        [r[:8] for r in rows],
        columns=["tx", "file", "sender", "amount", "rate", "ts", "late", "redelivered"],
    )
    files = [("\n".join(ls) + "\n").encode() for ls in lines]
    published = np.array([len(ls) for ls in lines])
    return StreamData(files, events, published, int(malformed.sum()))


def write_files(data: StreamData, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for k, blob in enumerate(data.files):
        with open(os.path.join(directory, file_name(k)), "wb") as f:
            f.write(blob)


def file_name(k: int) -> str:
    return f"part-{k:06d}.json"


# ---------------------------------------------------------------- corpus

@dataclass
class CorpusData:
    docs: pd.DataFrame  # doc_id, text
    exact_groups: list[list[int]]  # planted identical-text groups
    near_pairs: list[tuple[int, int]]  # planted (base, edited variant)


def _words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    return [vocab[int(i)] for i in rng.integers(0, len(vocab), n)]


def generate_corpus(
    seed: int,
    n_base: int = 4000,
    words: int = 60,
    exact_groups: int = 200,
    near_bases: int = 200,
    edits: int = 3,
) -> CorpusData:
    """Random background documents over a 5000-word vocabulary, plus
    ``exact_groups`` groups of 2-4 identical copies and ``near_bases``
    documents with 1-3 variants each that substitute ``edits`` words
    (word 3-shingle Jaccard to the base of about 0.7)."""
    rng = np.random.Generator(np.random.PCG64(seed ^ 0x5EED))
    vocab = [f"w{i:04d}" for i in range(5000)]
    texts = [" ".join(_words(rng, vocab, words)) for _ in range(n_base)]
    seen = set(texts)
    groups, pairs = [], []
    next_id = n_base
    ids = list(range(n_base))
    order = rng.permutation(n_base)
    for g in range(exact_groups):
        src = int(order[g])
        copies = int(rng.integers(1, 4))
        group = [src]
        for _ in range(copies):
            texts.append(texts[src])
            ids.append(next_id)
            group.append(next_id)
            next_id += 1
        groups.append(group)
    for b in range(near_bases):
        base = int(order[exact_groups + b])
        toks = texts[base].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            var = list(toks)
            for p in rng.choice(len(var), edits, replace=False):
                var[int(p)] = f"x{int(rng.integers(0, 10**6)):06d}"
            text = " ".join(var)
            if text in seen:
                continue
            seen.add(text)
            texts.append(text)
            ids.append(next_id)
            pairs.append((base, next_id))
            next_id += 1
    docs = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
    return CorpusData(docs, groups, pairs)


# ------------------------------------------------------------- publisher

def publish(staging: str, target: str, t0: float, period_ms: int, files: int, log: str) -> None:
    try:
        # Keep the schedule while the system under test saturates the CPUs.
        os.setpriority(os.PRIO_PROCESS, 0, -10)
    except OSError:
        pass
    late_ms = []
    for k in range(files):
        due = t0 + (k + 1) * period_ms / 1000.0
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, file_name(k)), os.path.join(target, file_name(k)))
        late_ms.append((time.time() - due) * 1000.0)
    with open(log, "w") as f:
        json.dump({"late_ms": late_ms}, f)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["publish"])
    ap.add_argument("--staging", required=True)
    ap.add_argument("--target", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--period-ms", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    publish(a.staging, a.target, a.t0, a.period_ms, a.files, a.log)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
