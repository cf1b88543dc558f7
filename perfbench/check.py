"""Output checks for the benchmark, run outside every timer.

* autocomplete: an independent Python computation of the cumulative
  (prefix, query, frequency) state and the top-K completions over the
  generated history and logs; the hourly path and the backfill path must
  both equal it, and each hourly run must report the state size the
  inputs imply;
* queries and drains: results are hash-compared against the DuckDB oracle
  SQL the program declares for them (the repository's tools/check.py
  rule: columns sorted by name, floats at full precision, rows sorted);
  queries without oracle SQL pass only if their bound envelope held.
"""
import glob
import math
import os

import duckdb
import pyarrow as pa


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def rows_key(df):
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


# -- autocomplete ------------------------------------------------------------

def _queries(path):
    """Normalised queries of one log file: trim spaces, lower-case, keep
    lines of at least two characters (the pipeline's filter)."""
    with open(path, encoding="ascii") as f:
        for line in f.read().split("\n"):
            q = line.strip(" ").lower()
            if len(q) >= 2:
                yield q


def reference_counts(log_paths, base=None):
    """(state rows after each hour, final query -> count) of the job run
    hour by hour over ``log_paths``, starting from the state built from
    the query counts ``base`` (none: an empty state)."""
    counts = dict(base or {})
    n_rows = sum(min(len(q), 60) - 1 for q in counts)
    rows_after = []
    for path in log_paths:
        for q in _queries(path):
            if q not in counts:
                counts[q] = 0
                n_rows += min(len(q), 60) - 1
            counts[q] += 1
        rows_after.append(n_rows)
    return rows_after, counts


def _connect(out_dir):
    """A small DuckDB: bounded memory, spills inside out_dir. The checks
    run after the program's JVM has exited, so they use every core."""
    con = duckdb.connect()
    con.sql("SET memory_limit = '1GB'")
    con.sql(f"SET threads = {os.cpu_count() or 1}")
    con.sql(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    return con


def _files(d):
    return sorted(glob.glob(f"{d}/*.parquet"))


def _read(con, d):
    files = _files(d)
    return con.sql(f"SELECT * FROM read_parquet({files!r})") if files \
        else None


# The reference state: every prefix of 2 to 60 characters of each counted
# query, with the query's count; and its top-K completions per prefix,
# ties broken by query, as a compact JSON array.
EXPECTED_STATE = """
    SELECT left(query, n) AS prefix, query, frequency
    FROM (SELECT query, frequency,
                 unnest(range(2, least(length(query), 60) + 1)) AS n
          FROM counts)"""


def expected_topk(k):
    return f"""
    SELECT prefix,
           to_json(list(query ORDER BY frequency DESC, query))::VARCHAR
           AS completions
    FROM (SELECT *, row_number() OVER (PARTITION BY prefix
                    ORDER BY frequency DESC, query) AS rnk
          FROM ({EXPECTED_STATE}))
    WHERE rnk <= {int(k)} GROUP BY prefix"""


def _same_rows(con, got, expected):
    """Whether the relation ``got`` holds exactly the rows of the query
    ``expected`` (as multisets)."""
    n_got, n_exp, extra = con.execute(f"""
        WITH g AS ({got}), e AS ({expected})
        SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM e),
               (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL
                                      SELECT * FROM e))""").fetchone()
    return n_got == n_exp and extra == 0


def output_ok(con, state_dir, topk_dir, counts, k):
    """Whether a run's state and top-K tables equal the reference over
    the query counts ``counts``."""
    state, topk = _files(state_dir), _files(topk_dir)
    if not state or not topk:
        return False
    con.register("counts", pa.table({
        "query": pa.array(list(counts), pa.string()),
        "frequency": pa.array(list(counts.values()), pa.int64())}))
    try:
        return (_same_rows(con, f"SELECT prefix, query, frequency FROM "
                                f"read_parquet({state!r})",
                           EXPECTED_STATE)
                and _same_rows(con, f"SELECT prefix, completions FROM "
                                    f"read_parquet({topk!r})",
                               expected_topk(k)))
    finally:
        con.unregister("counts")


def check_autocomplete(result, out_dir, log_paths, base):
    """Map (pass index, op name) -> error string ('' when correct). The
    hourly path must equal the reference over the history ``base`` plus
    the logs, the backfill (a fresh state) the reference over the logs
    alone; together these make the two paths agree on every count."""
    k = result["k"]
    rows_after, counts = reference_counts(log_paths, base)
    _, fresh = reference_counts(log_paths)
    con = _connect(out_dir)
    verdict = {}
    for p in result["passes"]:
        i = p["index"]
        d = f"{out_dir}/pass-{i}"
        hours = [o for o in p["ops"] if o["name"].startswith("hour")]
        for h, o in enumerate(hours):
            err = ""
            if o["rows"] != rows_after[h]:
                err = f"state rows {o['rows']} != {rows_after[h]}"
            elif h == len(hours) - 1 and not output_ok(
                    con, f"{d}/state", f"{d}/topk", counts, k):
                err = "hourly state or top-K differs from the reference"
            verdict[(i, o["name"])] = err
        verdict[(i, "backfill")] = "" if output_ok(
            con, f"{d}/backfill_state", f"{d}/backfill_topk", fresh, k) \
            else "backfill state or top-K differs from the reference"
    return verdict


# -- queries -----------------------------------------------------------------

def check_queries(result, out_dir, tables_dir):
    """Map (pass index, op name) -> error string ('' when correct)."""
    con = _connect(out_dir)
    for path in sorted(glob.glob(f"{tables_dir}/*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracle = {o["name"]: o["sql"] for o in result["oracle_sql"]}
    bounds = {b["key"]: b["ok"] for b in result["bounds"]}
    expected = {}
    verdict = {}
    for p in result["passes"]:
        i = p["index"]
        for o in p["ops"]:
            name = o["name"]
            if name in oracle:
                if name not in expected:
                    expected[name] = rows_key(con.sql(oracle[name]).df())
                rel = _read(con, f"{out_dir}/pass-{i}/{name}")
                got = rows_key(rel.df()) if rel is not None else None
                verdict[(i, name)] = "" if got == expected[name] else \
                    "result differs from the oracle SQL"
            elif f"{i}/{name}" in bounds:
                verdict[(i, name)] = "" if bounds[f"{i}/{name}"] else \
                    "bound envelope not met"
            else:
                verdict[(i, name)] = "no oracle SQL and no bound envelope"
    return verdict
