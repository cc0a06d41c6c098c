"""DuckDB oracles and output checks.

``expected_kpis`` computes genre_kpis and hourly_kpis from the pipeline's
input CSVs with the pipeline's semantics: try-parse timestamps, left enrich
on track_id, null song strings filled with "Unkown", exact distinct counts,
and the pinned tie-breaks (popularity DESC NULLS LAST, track_name, track_id
for the top track; play count DESC, artist for the top artist).

``check_kpis`` compares what `graft.PipelineMain` wrote against those
tables: same keys, no duplicate keys, integers and strings equal, doubles
within 1e-9 relative.
"""

import math
from pathlib import Path

import duckdb
import pyarrow as pa

GENRE_KEY = ("date", "track_genre")
GENRE_COLS = ("listen_count", "avg_duration_ms", "popularity_index",
              "most_popular_track", "most_popular_track_popularity")
HOURLY_KEY = ("date", "hour")
HOURLY_COLS = ("unique_listeners", "top_artist", "track_diversity_index")
REL_TOL = 1e-9

_SONG_STRINGS = ("track_id", "artists", "album_name", "track_name",
                 "track_genre")

_ENRICHED = """
CREATE TEMP VIEW streams AS
  SELECT TRY_CAST(user_id AS BIGINT) AS user_id, track_id,
         TRY_CAST(listen_time AS TIMESTAMP) AS listen_ts
  FROM read_csv('{inp}/streams/*.csv', header = true, all_varchar = true,
                union_by_name = true);
CREATE TEMP VIEW songs AS
  SELECT {song_strings},
         TRY_CAST(popularity AS INTEGER) AS popularity,
         TRY_CAST(duration_ms AS INTEGER) AS duration_ms
  FROM read_csv('{inp}/songs.csv', header = true, all_varchar = true);
CREATE TEMP TABLE enriched AS
  SELECT s.user_id, s.track_id, CAST(s.listen_ts AS DATE) AS date,
         hour(s.listen_ts) AS hour, g.artists, g.track_name, g.popularity,
         g.duration_ms, g.track_genre
  FROM streams s LEFT JOIN songs g ON s.track_id = g.track_id;
"""

_GENRE = """
WITH f AS (SELECT * FROM enriched
           WHERE track_genre IS NOT NULL AND date IS NOT NULL),
agg AS (SELECT date, track_genre, count(track_id) AS listen_count,
               avg(duration_ms) AS avg_duration_ms,
               avg(popularity) AS popularity_index
        FROM f GROUP BY ALL),
top AS (SELECT date, track_genre,
               -- struct order = the tie-break: popularity DESC NULLS LAST,
               -- track_name ASC NULLS LAST, track_id ASC
               min({'pop_null': popularity IS NULL,
                    'pop_desc': -coalesce(popularity, 0),
                    'track_null': track_name IS NULL,
                    'track_key': coalesce(track_name, ''),
                    'id': track_id,
                    'track': track_name,
                    'pop': CAST(popularity AS DOUBLE)}) AS best
        FROM f GROUP BY ALL)
SELECT CAST(agg.date AS VARCHAR) AS date, agg.track_genre, listen_count,
       avg_duration_ms, popularity_index,
       best.track AS most_popular_track,
       best.pop AS most_popular_track_popularity
FROM agg JOIN top USING (date, track_genre)
"""

_HOURLY = """
WITH f AS (SELECT * FROM enriched WHERE date IS NOT NULL),
agg AS (SELECT date, hour, count(DISTINCT user_id) AS unique_listeners,
               count(DISTINCT track_id) / count(track_id)::DOUBLE
                 AS track_diversity_index
        FROM f GROUP BY ALL),
plays AS (SELECT date, hour, artists, count(track_id) AS play_count
          FROM f WHERE artists IS NOT NULL GROUP BY ALL),
top AS (SELECT date, hour, artists AS top_artist,
               row_number() OVER (PARTITION BY date, hour
                 ORDER BY play_count DESC, artists ASC) AS rn
        FROM plays)
SELECT CAST(agg.date AS VARCHAR) AS date, agg.hour, unique_listeners,
       top.top_artist, track_diversity_index
FROM agg LEFT JOIN top ON agg.date = top.date AND agg.hour = top.hour
                         AND top.rn = 1
"""


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def expected_kpis(inp):
    """{"genre_kpis": [row dicts], "hourly_kpis": [row dicts]} for ``inp``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        strings = ", ".join(f"coalesce({c}, 'Unkown') AS {c}"
                            for c in _SONG_STRINGS if c != "track_id")
        con.execute(_ENRICHED.format(inp=Path(inp).as_posix(),
                                     song_strings="track_id, " + strings))
        return {"genre_kpis": _rows(con, _GENRE),
                "hourly_kpis": _rows(con, _HOURLY)}
    finally:
        con.close()


def read_output(out_dir, table):
    """Rows of one partitioned KPI table as written by the pipeline."""
    con = duckdb.connect()
    try:
        glob = (Path(out_dir) / table / "*" / "*.parquet").as_posix()
        return _rows(con, f"""
            SELECT * REPLACE (CAST(date AS VARCHAR) AS date)
            FROM read_parquet('{glob}', hive_partitioning = true,
                              hive_types = {{'date': VARCHAR}})""")
    finally:
        con.close()


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        return a == b or math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)
    return a == b


def compare(expected, got, key, cols):
    """List of human-readable mismatches between two row lists (empty when
    they agree). Duplicate keys in ``got`` are mismatches."""
    problems = []
    seen = {}
    for r in got:
        k = tuple(r[c] for c in key)
        if k in seen:
            problems.append(f"duplicate row for {k}")
        seen[k] = r
    want = {tuple(r[c] for c in key): r for r in expected}
    for k in want.keys() - seen.keys():
        problems.append(f"missing row {k}")
    for k in seen.keys() - want.keys():
        problems.append(f"unexpected row {k}")
    for k in want.keys() & seen.keys():
        for c in cols:
            if not _same(want[k][c], seen[k].get(c)):
                problems.append(f"{k} {c}: expected {want[k][c]!r}, "
                                f"got {seen[k].get(c)!r}")
    return problems


def check_kpis(expected, out_dir):
    """Mismatches between ``expected`` and the pipeline output in
    ``out_dir`` (both tables)."""
    problems = []
    for table, key, cols in (("genre_kpis", GENRE_KEY, GENRE_COLS),
                             ("hourly_kpis", HOURLY_KEY, HOURLY_COLS)):
        try:
            got = read_output(out_dir, table)
        except duckdb.Error as e:
            problems.append(f"{table}: unreadable output: {e}")
            continue
        problems += [f"{table}: {p}" for p in
                     compare(expected[table], got, key, cols)]
    return problems


def stale_kpis(expected):
    """``expected`` with every row's count off by one: the pre-fill of a
    backfill target. Same date keys, so the run must overwrite every
    partition; any partition it skips keeps a wrong count and fails
    ``check_kpis``."""
    return {
        "genre_kpis": [dict(r, listen_count=r["listen_count"] + 1)
                       for r in expected["genre_kpis"]],
        "hourly_kpis": [dict(r, unique_listeners=r["unique_listeners"] + 1)
                        for r in expected["hourly_kpis"]],
    }


def write_partitioned(rows, out_dir, table):
    """Write KPI rows as a date-partitioned parquet table, the layout the
    pipeline's sink produces; used to pre-fill a backfill target."""
    con = duckdb.connect()
    try:
        data = pa.Table.from_pylist(rows)
        con.register("data", data)
        Path(out_dir).mkdir(parents=True, exist_ok=True)
        target = (Path(out_dir) / table).as_posix()
        con.execute(f"COPY data TO '{target}' (FORMAT PARQUET, "
                    f"PARTITION_BY (date), OVERWRITE_OR_IGNORE true)")
    finally:
        con.close()


def count_rows(table_dir, sqls):
    """Row count DuckDB gives for each ``{name: sql}`` over the parquet
    tables in ``table_dir`` (one view per ``<name>.parquet``); a query
    DuckDB cannot run maps to its error text."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        for p in sorted(Path(table_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                        f"'{p.as_posix()}'")
        counts = {}
        for name, sql in sqls.items():
            try:
                counts[name] = len(con.execute(sql).fetchall())
            except duckdb.Error as e:
                counts[name] = f"oracle failed: {e}"
        return counts
    finally:
        con.close()
