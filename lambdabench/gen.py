"""Seeded input generator for the lambda benchmark.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical files. Next to the inputs it writes `expected.json`, the
answers the checks compare against, computed here from the generated
records alone (plain Python, no Spark, no code of the program).

Avro tweets are encoded by hand (zig-zag varints, length-prefixed UTF-8),
so the decoder under test never checks its own encoder's output.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z; the master dataset covers January 2024.
JAN_2024_S = 1704067200
DAY_S = 86400
SESSION_GAP_NS = 1800 * 10**9
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
# the reference's corrupt-payload fixture (AvroDecoderBoltSpec)
REFERENCE_CORRUPT = bytes([1, 2, 3, 4])
LOSS_MODULUS = 97  # ev_lambda_diff's speed layer drops event_id % 97 == 0

# Workload sizes. Each workload's pass costs a few seconds on 4 cores.
TWEET_STREAM = dict(vocab=3000, zipf=1.1, tweet_files=5, tweets_per_file=400,
                    corrupt_share=0.03, event_files=3, events_per_file=500,
                    users=240, words=(6, 14))
LAMBDA_BATCH = dict(vocab=4000, zipf=1.05, parts=8, events=50_000, users=2000,
                    documents=1000, doc_words=(20, 80), tweets=20_000,
                    corrupt_share=0.03, words=(6, 14))


def zigzag_varint(n):
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def avro_tweet(username, text, timestamp):
    """Avro binary of graft.codec.Tweet{username, text, timestamp}."""
    out = bytearray()
    for s in (username, text):
        b = s.encode("utf-8")
        out += zigzag_varint(len(b))
        out += b
    out += zigzag_varint(timestamp)
    return bytes(out)


def vocabulary(rng, n):
    """n distinct lowercase words of 3-9 letters."""
    words, seen = [], set()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def word_lists(rng, vocab, probs, count, lo, hi):
    lengths = rng.integers(lo, hi + 1, size=count)
    ids = rng.choice(len(vocab), size=int(lengths.sum()), p=probs)
    out, i = [], 0
    for n in lengths:
        out.append([vocab[j] for j in ids[i:i + n]])
        i += n
    return out


def corrupt_payload(rng, valid):
    """One of three corruptions the decoder must drop: the reference's
    [1,2,3,4] bytes, a truncated record, or trailing garbage."""
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return REFERENCE_CORRUPT
    if kind == 1:
        return valid[:-1]
    return valid + b"\x02"


def tweets(rng, n, vocab, probs, corrupt_share, words):
    """Returns (payloads, per-word counts over valid tweets, n_corrupt)."""
    texts = word_lists(rng, vocab, probs, n, *words)
    users = rng.integers(0, 5000, size=n)
    ts = JAN_2024_S + rng.integers(0, 31 * DAY_S, size=n)
    bad = rng.random(n) < corrupt_share
    payloads, counts = [], {}
    for i in range(n):
        enc = avro_tweet(f"user_{users[i]}", " ".join(texts[i]), int(ts[i]))
        if bad[i]:
            payloads.append(corrupt_payload(rng, enc))
        else:
            payloads.append(enc)
            for w in texts[i]:
                counts[w] = counts.get(w, 0) + 1
    return payloads, counts, int(bad.sum())


def write_parts(table, path, parts):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(parts):
        lo, hi = k * n // parts, (k + 1) * n // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{k:05d}.parquet"))


def sessions(user_ids, ts_ns):
    """Plain gap sessionization: a new session after a gap > 30 min."""
    order = np.lexsort((ts_ns, user_ids))
    u, t = user_ids[order], ts_ns[order]
    out = {}
    for i in range(len(u)):
        uid = int(u[i])
        if i == 0 or u[i - 1] != u[i]:
            out[uid] = [1, 1]
        else:
            out[uid][1] += 1
            if t[i] - t[i - 1] > SESSION_GAP_NS:
                out[uid][0] += 1
    return {str(k): v for k, v in out.items()}


def gen_tweet_stream(rng, d):
    c = TWEET_STREAM
    vocab = vocabulary(rng, c["vocab"])
    probs = zipf_probs(c["vocab"], c["zipf"])
    n = c["tweet_files"] * c["tweets_per_file"]
    payloads, counts, n_corrupt = tweets(rng, n, vocab, probs, c["corrupt_share"], c["words"])
    os.makedirs(f"{d}/tweets")
    per = c["tweets_per_file"]
    for k in range(c["tweet_files"]):
        t = pa.table({"value": pa.array(payloads[k * per:(k + 1) * per], pa.binary())})
        pq.write_table(t, f"{d}/tweets/part-{k:05d}.parquet")
    # session events: bursts of activity per user (gaps of minutes inside a
    # burst, hours between bursts); files are filled in arrival order with
    # a disorder of up to two files, so triggers see out-of-order time
    m = c["event_files"] * c["events_per_file"]
    users = rng.integers(0, c["users"], size=m)
    burst_start = rng.integers(0, 3 * DAY_S, size=m) // 5400 * 5400
    ts = (JAN_2024_S + burst_start + rng.integers(0, 3600, size=m)) * 10**9 \
        + rng.integers(0, 10**9, size=m)
    arrival = np.argsort(ts + rng.integers(0, 2, size=m) * (3 * DAY_S * 10**9 // c["event_files"]),
                         kind="stable")
    os.makedirs(f"{d}/events")
    per = c["events_per_file"]
    for k in range(c["event_files"]):
        idx = arrival[k * per:(k + 1) * per]
        idx = idx[rng.permutation(len(idx))]
        t = pa.table({"user_id": pa.array(users[idx], pa.int64()),
                      "ts": pa.array(ts[idx], pa.int64())})
        pq.write_table(t, f"{d}/events/part-{k:05d}.parquet")
    return {"tweets": n, "corrupt": n_corrupt, "valid": n - n_corrupt,
            "events": m, "word_counts": counts, "sessions": sessions(users, ts)}


def documents(rng, n, vocab, probs, words):
    texts = [" ".join(ws) for ws in word_lists(rng, vocab, probs, n, *words)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), size=n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_lambda_batch(rng, d):
    c = LAMBDA_BATCH
    n = c["events"]
    # event_id follows arrival; event time trails arrival by up to an hour
    arrival_s = np.sort(rng.integers(0, 31 * DAY_S, size=n))
    ts_us = (JAN_2024_S + np.maximum(arrival_s - rng.integers(0, 3600, size=n), 0)) * 10**6 \
        + rng.integers(0, 10**6, size=n)
    types = rng.integers(0, len(EVENT_TYPES), size=n)
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, c["users"], size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[t] for t in types], pa.string()),
        "value": pa.array(rng.integers(0, 5000, size=n) / 100.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
    })
    write_parts(events, f"{d}/events.parquet", c["parts"])
    lost = {}
    days = (ts_us // 10**6 - JAN_2024_S) // DAY_S
    for i in np.nonzero(np.arange(n) % LOSS_MODULUS == 0)[0]:
        day = f"2024-01-{int(days[i]) + 1:02d}"
        key = f"{day}|{EVENT_TYPES[types[i]]}"
        lost[key] = lost.get(key, 0) + 1

    vocab = vocabulary(rng, c["vocab"])
    probs = zipf_probs(c["vocab"], c["zipf"])
    write_parts(documents(rng, c["documents"], vocab, probs, c["doc_words"]),
                f"{d}/documents.parquet", c["parts"])

    payloads, counts, n_corrupt = tweets(rng, c["tweets"], vocab, probs,
                                         c["corrupt_share"], c["words"])
    write_parts(pa.table({"value": pa.array(payloads, pa.binary())}), f"{d}/tweets", c["parts"])
    return {"events": n, "lost": lost, "tweets": c["tweets"], "corrupt": n_corrupt,
            "valid": c["tweets"] - n_corrupt, "word_counts": counts,
            "documents": c["documents"]}


def order_by_path(d):
    """Give every file under d its own modification time, in path order.
    The file stream source drains files oldest first; files written in the
    same millisecond tie and drain in directory-listing order, which made
    the trigger contents (and the state-store work) differ between runs of
    one seed."""
    paths = sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs)
    for i, p in enumerate(paths):
        os.utime(p, (JAN_2024_S + i, JAN_2024_S + i))


GENERATORS = {"tweet_stream": gen_tweet_stream, "lambda_batch": gen_lambda_batch}


def generate(workload, seed, d):
    """Write the inputs of `workload` for `seed` into the fresh directory d
    and return the expected answers (also written to d/expected.json)."""
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    expected = GENERATORS[workload](rng, d)
    order_by_path(d)
    expected["seed"] = seed
    with open(f"{d}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
