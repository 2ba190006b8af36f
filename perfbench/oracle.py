"""DuckDB oracle for the benchmark's outputs.

Batch workloads: every query's Verify dump (one parquet dir per query)
is compared with its oracle SQL run by DuckDB over the same input
tables, using the normalisation of ``tools/check.py``: columns sorted
by name, rows sorted by every column, exact values.

stream_ingest: DuckDB recomputes, from the generated change files,
the table state after each applied epoch (last writer wins by ``seq``
per (user_id, event_type); a ``delete`` tombstone removes the key),
every read the run made, and the final per-user sessions (a new
session starts when the gap to the user's previous event exceeds
``GAP_US``, events ordered by (ts_us, seq)). Each side is reduced to
a digest of its canonically sorted rows (see ``digest``), which the
JVM computes the same way.

Expected results are cached per (code version, workload, seed, input
hash), and inside that per query and oracle SQL text or per full read
description, so only the first run of a seed pays DuckDB for them.
"""
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
GAP_US = 1800 * 1_000_000


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        if str(df[c].dtype) in ("int32", "int64", "uint32"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a, b):
    """None when the normalised frames match exactly, else the reason."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if str(x.dtype).startswith("float") or str(y.dtype).startswith("float"):
            xf, yf = x.astype(float), y.astype(float)
            if not ((xf == yf) | (xf.isna() & yf.isna())).all():
                return f"column {c} differs"
        elif not (x.astype(str) == y.astype(str)).all():
            return f"column {c} differs"
    return None


def _frame_digest(df):
    """sha256 of a normalised frame (cache form of an expected result)."""
    return hashlib.sha256(pd.util.hash_pandas_object(df, index=False).values.tobytes()
                          + ",".join(df.columns).encode()).hexdigest()


def _cache(cache_dir, key):
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return path, json.load(f)
    return path, None


def _store(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _sha(text):
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_batch(data_dir, out_dir, names, cache_dir, cache_key):
    """Compare each query's dump with DuckDB. Returns {name: reason} for
    every mismatch (empty when all match). A matching result's digest is
    cached under the query name and its oracle SQL text."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    path, expected = _cache(cache_dir, cache_key)
    expected = expected or {}
    con, failures, changed = None, {}, False
    for name in names:
        dump = os.path.join(out_dir, name)
        if not os.path.exists(dump):
            failures[name] = "output missing (the query threw)"
            continue
        got = normalize(pd.read_parquet(dump))
        key = name + ":" + _sha(oracle[name].replace(os.path.abspath(out_dir), "{{OUT}}"))
        if key in expected:
            if _frame_digest(got) != expected[key]:
                failures[name] = "differs from the cached oracle result"
            continue
        con = con or _connect(data_dir)
        try:
            want = normalize(con.execute(oracle[name]).df())
        except Exception as e:  # an oracle error is a failed check, not a crash
            failures[name] = f"duckdb error: {e}"
            continue
        reason = frames_equal(got, want)
        if reason is None:
            expected[key] = _frame_digest(got)
            changed = True
        else:
            failures[name] = reason
    if changed:
        _store(path, expected)
    return failures


def digest(rows):
    """sha256 over rows rendered as '|'-joined fields, one per line,
    sorted; the JVM side renders longs and strings identically."""
    lines = sorted("|".join(str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _state_sql(upto):
    return f"""SELECT user_id, event_type, seq, ts_us, cents FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY seq DESC) AS rn
        FROM changes WHERE epoch <= {upto}) WHERE rn = 1 AND op <> 'delete'"""


def ingest_expected(con, reads, final_epoch):
    """Digests of every read and of the final table and sessions."""
    out = {}
    for r in reads:
        base = _state_sql(r["state_epoch"])
        if r["kind"] == "partition":
            sql = f"SELECT * FROM ({base}) WHERE event_type = '{r['event_type']}'"
        elif r["kind"] == "range":
            sql = f"SELECT * FROM ({base}) WHERE user_id BETWEEN {r['lo']} AND {r['hi']}"
        else:
            sql = f"""SELECT event_type, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
                      max(seq) FROM ({base}) GROUP BY event_type"""
        out[r["id"]] = digest(con.execute(sql).fetchall())
    out[f"final_table@{final_epoch}"] = digest(con.execute(_state_sql(final_epoch)).fetchall())
    out[f"final_sessions@{final_epoch}"] = digest(con.execute(f"""
        SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR ts_us - prev > {GAP_US}
                                     THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM (SELECT user_id, ts_us,
                     lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, seq) AS prev
              FROM changes WHERE epoch <= {final_epoch})
        GROUP BY user_id""").fetchall())
    return out


def check_ingest(epoch_dir, result, cache_dir, cache_key):
    """Compare the run's digests with DuckDB's. Returns {op: reason}.
    Expected read digests are cached under the read's full description
    (kind, epoch, table state and parameters)."""
    final = result["epochs_applied"] - 1
    want = {r["id"]: r["id"] + ":" + _sha(json.dumps(r, sort_keys=True)) for r in result["reads"]}
    want.update({k: k for k in (f"final_table@{final}", f"final_sessions@{final}")})
    path, expected = _cache(cache_dir, cache_key)
    expected = expected or {}
    if any(k not in expected for k in want.values()):
        con = duckdb.connect()
        files = [os.path.join(epoch_dir, f"epoch{e:05d}.parquet") for e in range(final + 1)]
        con.execute("CREATE TABLE changes AS SELECT * FROM ("
                    + " UNION ALL ".join(f"SELECT *, {e} AS epoch FROM read_parquet('{p}')"
                                         for e, p in enumerate(files)) + ")")
        fresh = ingest_expected(con, [r for r in result["reads"] if want[r["id"]] not in expected],
                                final)
        expected.update({want[k]: v for k, v in fresh.items()})
        _store(path, expected)
    return {k: "digest differs from DuckDB" for k, v in result["digests"].items()
            if expected.get(want[k]) != v}
