"""Output checks, run once per invocation on what the warm pass wrote.

Query ops: a query with an oracle statement must match the DuckDB
answer over the same generated tables (columns sorted by name, values
compared as text, row order significant, as the repository's own oracle
check does); a query without one must return at least one row.

Backup ops: the restored incremental chain and the latest-day copy must
carry, per day, the row count and the sums of `event_id` and of
`value` in cents of the source batch they were taken from.
"""
import pathlib

import duckdb
import numpy as np
import pyarrow as pa

import datagen


def _read_result(con, path: pathlib.Path):
    return con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()


def check_queries(names, check_dir: pathlib.Path, data_dir: pathlib.Path) -> dict:
    """{query name: None if its output is right, else why not}."""
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdicts = {}
    for name in names:
        verdicts[name] = _check_query(con, name, check_dir)
    con.close()
    return verdicts


def _check_query(con, name, check_dir):
    out = check_dir / name
    if not out.is_dir():
        return "no output written"
    try:
        got = _read_result(con, out)
    except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
        return f"output unreadable: {e}"
    oracle = check_dir / "oracle" / f"{name}.sql"
    if not oracle.exists():
        return None if len(got) > 0 else "no rows"
    want = con.execute(oracle.read_text()).fetchdf()
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns differ: {list(got.columns)} vs oracle {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape differs: {got.shape} vs oracle {want.shape}"
    diff = (got.astype(str) != want.astype(str)).any(axis=1)
    if diff.any():
        return f"{int(diff.sum())}/{len(got)} rows differ from the oracle"
    return None


def day_digests(tables) -> dict:
    """{bucket_day: (rows, sum event_id, sum value cents)} of event batches."""
    merged = pa.concat_tables(tables)
    ts = merged.column("ts").to_numpy().astype("datetime64[D]")
    days = np.datetime_as_string(ts, unit="D")
    ids = merged.column("event_id").to_numpy()
    cents = np.round(merged.column("value").to_numpy() * 100).astype(np.int64)
    out = {}
    for day in np.unique(days):
        sel = days == day
        out[day.replace("-", "")] = (int(sel.sum()), int(ids[sel].sum()), int(cents[sel].sum()))
    return out


def check_backup(check_dir: pathlib.Path, tick_tables) -> dict:
    """{check name: None if right, else why not} for the checked tick,
    whose source is the list of event tables `tick_tables`."""
    want_all = day_digests(tick_tables)
    newest = max(want_all)
    con = duckdb.connect()
    verdicts = {}
    for name, want in (("restored", want_all), ("latest", {newest: want_all[newest]})):
        try:
            got_df = _read_result(con, check_dir / name)
        except Exception as e:  # noqa: BLE001
            verdicts[name] = f"output unreadable: {e}"
            continue
        got = {r.bucket_day: (int(r.n_rows), int(r.sum_event_id), int(r.sum_value_cents))
               for r in got_df.itertuples()}
        verdicts[name] = None if got == want else f"per-day digests differ: {got} vs {want}"
    con.close()
    return verdicts

