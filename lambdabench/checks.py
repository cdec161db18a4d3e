"""Checks of a run's outputs, computed apart from the program.

Each check either compares against a separate computation (the
generator's own answers, or DuckDB running the registry's oracle SQL on
the same files) or tests a property the method must have. None compares
against a saved copy of an earlier output.

`run_checks` returns a list of (name, ok, detail).
"""
import glob
import os

import duckdb
import pandas as pd


def read_frame(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def norm(df):
    """The oracle compare's normalisation: columns sorted by name,
    timestamps as naive UTC strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_equal(spark_df, duck_df):
    """Exact compare after normalisation; int and float columns may not be
    mixed (a hash of the values would differ)."""
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"

    def kind(dt):
        return "i" if dt.kind == "u" else dt.kind
    for c in a.columns:
        if kind(a[c].dtype) != kind(b[c].dtype) and {kind(a[c].dtype), kind(b[c].dtype)} <= {"i", "f"}:
            return False, f"column {c}: {a[c].dtype} vs {b[c].dtype}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return False, str(e).splitlines()[-1] if str(e) else "values differ"
    return True, f"{len(a)} rows"


def oracle_connection(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def counts_equal(df, key, value, expected):
    got = {str(k): int(v) for k, v in zip(df[key], df[value])}
    if len(got) != len(df):
        return False, "duplicate keys"
    if got == expected:
        return True, f"{len(got)} keys"
    diff = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
    return False, f"{len(diff)} keys differ, e.g. {diff[:3]}"


def _varint(buf, i):
    shift = z = 0
    while True:
        b = buf[i]
        i += 1
        z |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return (z >> 1) ^ -(z & 1), i


def decode_tweet(payload):
    """Avro binary Tweet{username, text, timestamp} -> (username, text,
    timestamp), or None when the payload is not exactly one record."""
    try:
        i, fields = 0, []
        for _ in range(2):
            n, i = _varint(payload, i)
            if n < 0 or i + n > len(payload):
                return None
            fields.append(payload[i:i + n].decode("utf-8"))
            i += n
        ts, i = _varint(payload, i)
        return (fields[0], fields[1], ts) if i == len(payload) else None
    except (IndexError, UnicodeDecodeError):
        return None


def word_counts(texts):
    """Plain word count: lower-case, split on whitespace."""
    out = {}
    for t in texts:
        for w in t.lower().split():
            out[w] = out.get(w, 0) + 1
    return out


def check_oracles(result, out_dir, data_dir):
    con = oracle_connection(data_dir)
    res = []
    for name, sql in sorted(result.get("oracle_sql", {}).items()):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        try:
            ok, detail = frames_equal(read_frame(path), con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        res.append((f"oracle:{name}", ok, detail))
    return res


def check_tweet_stream(result, out_dir, exp):
    res = []
    state = read_frame(os.path.join(out_dir, "state_counts"))
    res.append(("state_store_word_counts",) + counts_equal(state, "word", "cnt", exp["word_counts"]))
    facts = result.get("facts", [])
    res.append(("passes_have_facts", len(facts) > 0, f"{len(facts)} passes"))
    for i, f in enumerate(facts):
        res.append((f"pass{i}:n_records_eq_valid", f["n_records"] == exp["valid"],
                    f"{f['n_records']} vs {exp['valid']}"))
        res.append((f"pass{i}:input_eq_generated", f["input_rows"] == exp["tweets"],
                    f"{f['input_rows']} vs {exp['tweets']}"))
        res.append((f"pass{i}:dropped_eq_planted", f["dropped"] == exp["corrupt"],
                    f"{f['dropped']} vs {exp['corrupt']}"))
        res.append((f"pass{i}:sink_rows_eq_rows_updated", f["rows_sent"] == f["rows_updated"],
                    f"{f['rows_sent']} vs {f['rows_updated']}"))
    sessions = read_frame(os.path.join(out_dir, "sessions"))
    got = {str(u): [int(s), int(e)] for u, s, e in
           zip(sessions.get("user_id", []), sessions.get("n_sessions", []), sessions.get("n_events", []))}
    res.append(("sessions_eq_gap_sessionization", got == exp["sessions"] and len(got) == len(sessions),
                f"{len(got)} users vs {len(exp['sessions'])}"))
    return res


def check_lambda_batch(result, out_dir, data_dir, exp):
    res = check_oracles(result, out_dir, data_dir)
    wc = read_frame(os.path.join(out_dir, "tweet_wordcount"))
    res.append(("decoded_word_counts",) + counts_equal(wc, "word", "count", exp["word_counts"]))
    for i, f in enumerate(result.get("facts", [])):
        res.append((f"pass{i}:corrupt_eq_planted", f["corrupt"] == exp["corrupt"],
                    f"{f['corrupt']} vs {exp['corrupt']}"))
    diff = read_frame(os.path.join(out_dir, "ev_lambda_diff"))
    lost = {f"{d}|{t}": int(n) for d, t, n in
            zip(diff.get("day", []), diff.get("event_type", []), diff.get("lost", [])) if n}
    res.append(("lambda_lost_eq_planted", lost == exp["lost"], f"{sum(lost.values())} lost"))
    return res


def run_checks(workload, result, out_dir, data_dir, exp):
    if workload == "tweet_stream":
        return check_tweet_stream(result, out_dir, exp)
    return check_lambda_batch(result, out_dir, data_dir, exp)
