"""DuckDB oracle gate: each key's Spark output against its
`SparkEntry.oracleSql`, compared the way `scripts/check.py` compares
(columns sorted by name, then values row by row in result order).

Expected results are cached per (corpus fingerprint, key, SQL hash), so
a corpus pays for each oracle query once. The gate always runs after
the program has exited, never inside a timed window.
"""
import glob
import hashlib
import os
import pickle

import duckdb

from corpus import TABLES, table_path


def _connect(corpus, tmp):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        p = table_path(corpus, t)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _rows(tbl):
    names = sorted(tbl.column_names)
    return names, tbl.select(names).to_pylist()


def check(corpus, fp, oracle_sql, dump_dir, keys, cache_root):
    """Map key -> None (match) or a one-line reason."""
    cache = os.path.join(cache_root, fp)
    con = _connect(corpus, os.path.join(cache_root, "tmp"))
    os.makedirs(cache, exist_ok=True)
    verdicts = {}
    for key in keys:
        sql = oracle_sql.get(key)
        if sql is None:
            verdicts[key] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(dump_dir, key, "*.parquet")))
        if not files:
            verdicts[key] = "no spark result"
            continue
        entry = os.path.join(
            cache, f"{key}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}.pkl")
        try:
            if os.path.exists(entry):
                with open(entry, "rb") as f:
                    exp_names, exp = pickle.load(f)
            else:
                exp_names, exp = _rows(con.execute(sql).fetch_arrow_table())
                with open(entry + ".tmp", "wb") as f:
                    pickle.dump((exp_names, exp), f)
                os.replace(entry + ".tmp", entry)
            got_names, got = _rows(
                con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table())
        except Exception as e:  # an oracle or read error fails the key, by name
            verdicts[key] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        if got_names != exp_names:
            verdicts[key] = f"columns {got_names} != {exp_names}"
        elif len(got) != len(exp):
            verdicts[key] = f"rows {len(got)} != {len(exp)}"
        else:
            bad = [i for i, (a, b) in enumerate(zip(got, exp)) if a != b]
            verdicts[key] = (f"{len(bad)}/{len(got)} rows differ; first at {bad[0]}"
                             if bad else None)
    con.close()
    return verdicts
