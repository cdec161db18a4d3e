#!/usr/bin/env python3
"""Self-tests of the benchmark's generator and of its separate
recomputations, on tiny inputs with known answers.

    python3 lambdabench/selftest.py

Needs no build and no Spark; writes only under .bench_build/.
"""
import hashlib
import os
import shutil
import sys

import pandas as pd
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

TMP = os.path.join(os.path.dirname(BENCH), ".bench_build", "lambdabench", "selftest")


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            # modification times set the order a file stream drains in
            if f != "expected.json":
                h.update(str(os.stat(p).st_mtime_ns).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic():
    for w in gen.GENERATORS:
        a, b = gen.generate(w, 5, f"{TMP}/{w}-a"), gen.generate(w, 5, f"{TMP}/{w}-b")
        assert a == b and digest(f"{TMP}/{w}-a") == digest(f"{TMP}/{w}-b"), w
    gen.generate("tweet_stream", 6, f"{TMP}/tweet_stream-c")
    assert digest(f"{TMP}/tweet_stream-a") != digest(f"{TMP}/tweet_stream-c")


def test_reference_word_count_and_corrupt_payload():
    payloads = [gen.avro_tweet("ANY_USER_1", w, 1234) for w in ("alice", "bob", "joe", "alice")]
    payloads.append(gen.REFERENCE_CORRUPT)
    decoded = [checks.decode_tweet(p) for p in payloads]
    assert decoded[0] == ("ANY_USER_1", "alice", 1234)
    assert decoded[-1] is None
    assert checks.word_counts(t[1] for t in decoded if t) == {"alice": 2, "bob": 1, "joe": 1}


def test_planted_corruption_is_what_the_generator_counts():
    exp = gen.generate("tweet_stream", 5, f"{TMP}/tweet_stream-a")
    payloads = pq.read_table(f"{TMP}/tweet_stream-a/tweets").column("value").to_pylist()
    decoded = [checks.decode_tweet(p) for p in payloads]
    assert sum(t is None for t in decoded) == exp["corrupt"] > 0
    assert checks.word_counts(t[1] for t in decoded if t) == exp["word_counts"]
    # the truncated and padded corruptions of a valid record
    ok = gen.avro_tweet("u", "a b", 7)
    assert checks.decode_tweet(ok) == ("u", "a b", 7)
    assert checks.decode_tweet(ok[:-1]) is None and checks.decode_tweet(ok + b"\x02") is None


def test_gap_sessionization():
    import numpy as np
    m = 60 * 10**9
    users = np.array([1, 1, 1, 1, 2])
    ts = np.array([0, 10 * m, 40 * m, 71 * m, 5 * m])  # 30 min joins, 31 min splits
    assert gen.sessions(users, ts) == {"1": [2, 4], "2": [1, 1]}


def test_lost_rule():
    exp = gen.generate("lambda_batch", 5, f"{TMP}/lambda_batch-a")
    assert sum(exp["lost"].values()) == len(range(0, exp["events"], gen.LOSS_MODULUS))


def test_oracle_compare():
    a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
    assert checks.frames_equal(a, a.iloc[::-1])[0]
    assert not checks.frames_equal(a, a.assign(n=[1.0, 2.0]))[0]
    assert not checks.frames_equal(a, a.assign(n=[1, 3]))[0]


if __name__ == "__main__":
    shutil.rmtree(TMP, ignore_errors=True)
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    failed = 0
    for name, f in tests:
        try:
            f()
            print(f"ok   {name}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {name} {e}")
    shutil.rmtree(TMP, ignore_errors=True)
    print(f"{len(tests) - failed}/{len(tests)} passed")
    sys.exit(1 if failed else 0)
