"""Correctness checks computed apart from the program under test.

Each check reads what the measuring process left behind (warehouse
tables, view outputs written after the timed section, query results) and
compares it with figures DuckDB computes from the generated input files
or with the program's own DuckDB oracle SQL. Every function returns a
list of failure messages; an empty list means the check passed.
"""
import glob
import hashlib
import math
import os

import duckdb
import pandas as pd

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
NPO_CHANNEL = "channel LIKE '%NPO%'"


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _compare(label, got, want):
    """got/want: dict key -> tuple of numbers. Returns failure messages."""
    fails = []
    if set(got) != set(want):
        fails.append(f"{label}: keys differ: only engine {sorted(set(got) - set(want))[:5]}, "
                     f"only expected {sorted(set(want) - set(got))[:5]}")
    for k in sorted(set(got) & set(want)):
        if not all(_close(x, y) for x, y in zip(got[k], want[k])):
            fails.append(f"{label}: {k}: engine {got[k]} expected {want[k]}")
            break
    return fails


def _rows(con, sql):
    return {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}


def _stream_totals_sql(events, mapping, lo, hi):
    """Per-day play counts, playback seconds and 30s-qualified plays of the
    streams model, recomputed from the raw events: each play id is one
    stream; a regular stream counts one play when it has a Play action;
    a live event counts when its channel id is mapped."""
    return f"""
    WITH ev AS (
      SELECT *, CAST(d_date_hour_event AS DATE) AS d FROM read_parquet('{events}')
      WHERE CAST(d_date_hour_event AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'
        AND d_rm_type <> 'Animations'),
    live AS (
      SELECT ev.* FROM ev JOIN read_parquet('{mapping}') m
        ON m.channel_id = NULLIF(split_part(d_rm_content, '_||_', 2), '')
      WHERE d_rm_theme1 = 'livetvzender'),
    streams AS (
      SELECT d, SUM(d_rm_playback_time) AS pb,
             MAX(CASE WHEN d_rm_action = 'Play' THEN 1 ELSE 0 END) AS plays
      FROM ev WHERE d_rm_theme1 IS NULL OR d_rm_theme1 <> 'livetvzender'
      GROUP BY d, d_rm_playid
      UNION ALL
      SELECT d, d_rm_playback_time, 1 FROM live)
    SELECT CAST(d AS VARCHAR), SUM(plays), SUM(pb),
           SUM(CASE WHEN pb >= 30 THEN plays ELSE 0 END)
    FROM streams GROUP BY 1"""


def _engine_stream_totals_sql(path):
    return f"""
    SELECT CAST(evt_date AS VARCHAR), SUM(evt_play_count_total),
           SUM(evt_playback_time_total_in_sec), SUM(evt_play_count_over_30s)
    FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true) GROUP BY 1"""


def check_views(con, v, inputs, day):
    """Reporting views of a build at `day` (written under `v`) against the
    source files."""
    fails = []
    src = lambda t: f"read_parquet('{inputs}/{t}.parquet')"  # noqa: E731
    view = lambda t: f"read_parquet('{v}/{t}/*.parquet')"  # noqa: E731
    # Linear TV per ISO week: first-run NPO broadcasts, 6+ national.
    tv_want = f"""
      SELECT isoyear(date) * 100 + week(date), SUM(kdh), COUNT(DISTINCT (mediaId, date))
      FROM {src('advantedge_tv_viewer_density_per_show_daily_v1')}
      WHERE {NPO_CHANNEL} AND RepeatType = 'FIRST' AND audience = '6+'
        AND universe = 'Nat[SKO]' AND isoyear(date) >= 2019
        AND date_trunc('week', date) <= DATE '{day}'
      GROUP BY 1"""
    fails += _compare("tv broadcasts per ISO week", _rows(con, f"""
      SELECT year * 100 + weeknr, SUM(tv_sum_kdh_per_week), SUM(tv_number_of_broadcasts)
      FROM {view('integral_reporting_tvbroadcasts')} WHERE weeknr IS NOT NULL GROUP BY 1"""),
                      _rows(con, tv_want))
    # YouTube views per week from the latest quintly partition.
    yt_want = _rows(con, f"""
      WITH yt AS (SELECT * FROM {src('src_quintly_youtube_v1')}
                  WHERE partitionDate = (SELECT MAX(partitionDate) FROM {src('src_quintly_youtube_v1')}))
      SELECT CAST(CAST(intervalBegin AS DATE) AS VARCHAR), SUM(views)
      FROM yt JOIN {src('360_graden_rapportage_vertaaltabel_upload_20_21')} v
        ON v.QL_YT_ID = yt.profileId
      WHERE v.Naam IS NOT NULL AND CAST(intervalBegin AS DATE) <= DATE '{day}' GROUP BY 1""")
    fails += _compare("youtube views per week", _rows(con, f"""
      SELECT CAST(weekdate AS VARCHAR), SUM(yt_views_per_week)
      FROM {view('integral_reporting_youtube')} WHERE yt_views_per_week IS NOT NULL GROUP BY 1"""),
                      yt_want)
    # Site and app visitors per week (programme pages never match a title).
    pages_want = _rows(con, f"""
      SELECT CAST(p.weekdate AS VARCHAR),
             SUM(CASE WHEN platform = 'app' THEN weekly_visitors END),
             SUM(CASE WHEN platform = 'site' THEN weekly_visitors END)
      FROM {src('atinternet_smarttag_pages_weekly_v2')} p
      JOIN {src('360_graden_rapportage_vertaaltabel_upload_20_21')} v ON v.ATI_Titel = p.level_2
      WHERE v.Naam IS NOT NULL AND p.weekdate <= DATE '{day}' GROUP BY 1""")
    fails += _compare("sites and apps visitors per week", _rows(con, f"""
      SELECT CAST(weekdate AS VARCHAR), SUM(app_weekly_visitors), SUM(site_weekly_visitors)
      FROM {view('integral_reporting_sites_and_apps')}
      WHERE app_weekly_visitors IS NOT NULL GROUP BY 1"""), pages_want)
    # Every title with a name appears once per spine week.
    n_rows = con.execute(f"""
      SELECT COUNT(*) * (SELECT COUNT(*) FROM range(DATE '2018-12-31', DATE '{day}' + 1,
                                                    INTERVAL 7 DAY))
      FROM {src('360_graden_rapportage_vertaaltabel_upload_20_21')} WHERE Naam IS NOT NULL
      """).fetchone()[0]
    fails += _compare("youtube rows", _rows(con, f"""
      SELECT 'rows', COUNT(*) FROM {view('integral_reporting_youtube')}"""), {"rows": (n_rows,)})
    # One flattened row per POMS item that keeps a broadcaster (or has none).
    excluded = "['PP', 'RVD', 'RNW', 'SOCU', 'BVN', 'MTNL', 'EXT']"
    fails += _compare("poms_flattened rows", _rows(con, f"""
      SELECT 'rows', COUNT(*), COUNT(DISTINCT mid) FROM {view('poms_flattened')}"""),
                      _rows(con, f"""
      SELECT 'rows', COUNT(*), COUNT(*) FROM {src('audiovisual_metadata_poms_metadata_v1')}
      WHERE len(broadcasters) = 0
         OR len(list_filter(broadcasters, b -> NOT list_contains({excluded}, b.id))) > 0"""))
    return fails


def check_daily_refresh(c, inputs, d0):
    """The refresh's two insert-overwrite properties (checked in-process
    per day, and against a from-scratch build after the last day), the
    streams totals of every day, and the reporting views of the last
    day's build."""
    fails = []
    if not c["fresh_build_ok"]:
        fails.append("the from-scratch build's report is not ok")
    if c["outside_window_changed"]:
        fails.append(f"{c['outside_window_changed']} partitions outside a day's window changed")
    if c["window_missing"]:
        fails.append(f"{c['window_missing']} window partitions missing after a refresh")
    con = _con()
    last = c["last_day"]
    lo = con.execute(f"SELECT CAST(DATE '{last}' - 8 AS VARCHAR)").fetchone()[0]
    cols = "* EXCLUDE (evt_date), CAST(evt_date AS VARCHAR) AS evt_date"
    refreshed = (f"SELECT {cols} FROM read_parquet('{c['streams']}/*/*.parquet', "
                 f"hive_partitioning = true) WHERE CAST(evt_date AS VARCHAR) >= '{lo}'")
    fresh = (f"SELECT {cols} FROM read_parquet('{c['fresh_streams']}/*/*.parquet', "
             f"hive_partitioning = true)")
    for a, b, what in ((refreshed, fresh, "refreshed-only"), (fresh, refreshed, "fresh-only")):
        n = con.execute(f"SELECT COUNT(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
        if n:
            fails.append(f"refreshed window vs from-scratch build at {last}: {n} {what} rows")
    first = con.execute(f"SELECT CAST(DATE '{d0}' - 8 AS VARCHAR)").fetchone()[0]
    fails += _compare("refreshed streams per day",
                      _rows(con, _engine_stream_totals_sql(c["streams"])),
                      _rows(con, _stream_totals_sql(f"{c['events']}/*.parquet",
                                                    f"{inputs}/live_stream_name_mapping_v1.parquet",
                                                    first, last)))
    return fails + check_views(con, c["views"], inputs, last)


def _canon(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols, kind="mergesort", na_position="first") \
        .reset_index(drop=True)


def _same(a, b):
    def null(x):
        return x is None or (isinstance(x, float) and math.isnan(x)) or str(x) == "NaT"
    if null(a) or null(b):
        return null(a) and null(b)
    if isinstance(a, float) and isinstance(b, float):
        return a == b
    return str(a) == str(b)


def check_operator_mix(c, sf, cache):
    """Each query's result against its oracle SQL in DuckDB, with the
    comparison rules of tools/compare.py: same column names, same row
    count, and equal values after sorting rows by every column.

    The oracle side depends only on the oracle SQL and the read-only
    tables, so its result is kept under `cache`, keyed by both."""
    con = _con()
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    os.makedirs(cache, exist_ok=True)
    fails = []
    for name, sql in sorted(c["oracles"].items()):
        if not sql:
            fails.append(f"{name}: no oracle")
            continue
        files = glob.glob(f"{c['outputs']}/{name}/*.parquet")
        if not files:
            fails.append(f"{name}: no output")
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{c['outputs']}/{name}/*.parquet')").df()
        key = hashlib.sha256(f"{duckdb.__version__}\0{sf}\0{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            want = pd.read_pickle(path)
        else:
            want = con.execute(sql).df()
            want.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        if sorted(got.columns) != sorted(want.columns):
            fails.append(f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
            continue
        if len(got) != len(want):
            fails.append(f"{name}: {len(got)} rows, oracle {len(want)}")
            continue
        g, w = _canon(got), _canon(want)
        bad = next(((col, i, x, y) for col in g.columns
                    for i, (x, y) in enumerate(zip(g[col].tolist(), w[col].tolist()))
                    if not _same(x, y)), None)
        if bad:
            fails.append(f"{name}: column {bad[0]} row {bad[1]}: {bad[2]!r} vs oracle {bad[3]!r}")
    return fails
