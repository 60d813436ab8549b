"""Seeded generator for the NPO-shaped source tables the benchmark feeds
to the dbt project in fixtures/npo_project.

Everything is derived from the seed with numpy's PCG64 generator, so the
same (profile, seed) pair always writes the same rows. The program under
test never sees this module: it reads only the parquet files written
here, through the project's external-ref names.

Layout of an input directory:

    <dir>/<table>.parquet                 one file per source table
    <dir>/media_events/base.parquet       media events up to day D0
    <dir>/media_events_days/<date>.parquet one file per later day
                                          (refresh profile only)
    <dir>/profile.json                    the profile's dates and sizes

Numbers that the checks sum exactly (playback seconds, kdh) are
multiples of 1/4, so floating-point sums do not depend on the order the
engine adds them in.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPINE_START = dt.date(2018, 12, 31)  # the project's weekly spine epoch
ADV_START = dt.date(2019, 1, 1)

# The refresh profile feeds the benchmark; the smoke profile its
# self-tests. Each later day adds little data, so fixed per-build costs
# dominate a refresh. The refreshed days cross the ISO 2020-W53 /
# 2021-W01 boundary.
PROFILES = {
    "refresh": dict(d0="2020-12-30", event_days=12, streams_per_day=1500,
                    series=80, shows_per_channel=3, extra_days=10),
    "smoke": dict(d0="2021-01-06", event_days=10, streams_per_day=300,
                  series=20, shows_per_channel=2, extra_days=6),
}

NPO_CHANNELS = ["NPO 1", "NPO 2", "NPO 3"]
ALL_CHANNELS = NPO_CHANNELS + ["RTL 4"]
CHANNEL_IDS = {"NPO 1": "CH1", "NPO 2": "CH2", "NPO 3": "CH3"}
BROADCASTERS = ["NOS", "VPRO", "KRO", "BNN", "AVROTROS", "EO", "PP", "RVD"]
EXCLUDED_BROADCASTERS = {"PP", "RVD", "RNW", "SOCU", "BVN", "MTNL", "EXT"}

UTC = pa.timestamp("us", tz="UTC")
REF = pa.struct([("type", pa.string()), ("mid_ref", pa.string()), ("index", pa.int64())])
POMS_SCHEMA = pa.schema([
    ("id", pa.string()), ("type", pa.string()), ("sort_date", UTC),
    ("duration", pa.int64()), ("age_rating", pa.string()),
    ("episode_of", pa.list_(REF)), ("descendant_of", pa.list_(REF)),
    ("member_of", pa.list_(REF)),
    ("genres", pa.list_(pa.struct([("id", pa.string()), ("terms", pa.list_(pa.string()))]))),
    ("schedule_events", pa.list_(pa.struct([("net", pa.string()), ("channel", pa.string())]))),
    ("broadcasters", pa.list_(pa.struct([("id", pa.string()), ("value", pa.string())]))),
    ("titles", pa.list_(pa.struct([("value", pa.string())]))),
])
EVENT_SCHEMA = pa.schema([
    ("d_rm_playid", pa.string()), ("d_visit_id", pa.string()), ("d_uv_id", pa.string()),
    ("d_date_hour_event", UTC), ("d_rm_action", pa.string()), ("d_rm_l2", pa.string()),
    ("d_rm_playback_time", pa.float64()), ("d_rm_type", pa.string()),
    ("d_rm_content", pa.string()), ("d_rm_theme1", pa.string()),
    ("d_rm_theme2", pa.string()), ("d_rm_theme3", pa.string()),
])


def _ts(d, seconds):
    return dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc) + \
        dt.timedelta(seconds=int(seconds))


def _mondays(last):
    out, d = [], SPINE_START
    while d <= last:
        out.append(d)
        d += dt.timedelta(days=7)
    return out


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path + ".tmp", compression="snappy")
    os.replace(path + ".tmp", path)


class Catalog:
    """The POMS universe: series, seasons and episodes."""

    def __init__(self, rng, n_series):
        self.series = [f"SER{i}" for i in range(n_series)]
        self.episodes = []  # (episode mid, series, season, index, season index)
        for s in range(n_series):
            for j in range(int(rng.integers(1, 4))):
                season = f"SEA{s}_{j}"
                for k in range(int(rng.integers(3, 10))):
                    self.episodes.append((f"EP{s}_{j}_{k}", self.series[s], season, k + 1, j + 1))
        self.ep_ids = np.array([e[0] for e in self.episodes])


def poms_table(rng, cat):
    rows = {f.name: [] for f in POMS_SCHEMA}

    def add(mid, typ, sort_date, duration, rating, ep_of, desc_of, mem_of,
            genres, sched, bcs, titles):
        for k, v in zip(rows, (mid, typ, sort_date, duration, rating, ep_of, desc_of,
                               mem_of, genres, sched, bcs, titles)):
            rows[k].append(v)

    base = dt.date(2018, 6, 1)
    for mid, ser, sea, idx, sidx in cat.episodes:
        n_bc = int(rng.integers(0, 4))
        bcs = [{"id": b, "value": b} for b in rng.choice(BROADCASTERS, n_bc, replace=False)]
        genres = [{"id": str(rng.choice(["3.0.1.1.2", "3.0.1.2", "3.0.2.1", "3.0.1.1"])),
                   "terms": ["Jeugd", "Animatie"][: int(rng.integers(1, 3))]}
                  for _ in range(int(rng.integers(0, 3)))]
        sched = [{"net": str(rng.choice(["NPO", "ZAPP", "ZAPPE"])),
                  "channel": str(rng.choice(["NED1", "NED2", "NED3", "OTHR"]))}
                 for _ in range(int(rng.integers(0, 3)))]
        add(mid, "BROADCAST", _ts(base + dt.timedelta(days=int(rng.integers(0, 950))),
                                  int(rng.integers(0, 86400))),
            int(rng.integers(5, 90)) * 60000, str(rng.choice(["ALL", "6", "9", "12", "16"])),
            [{"type": "SERIES", "mid_ref": ser, "index": idx},
             {"type": "SEASON", "mid_ref": sea, "index": sidx}][: int(rng.integers(0, 3))],
            [{"type": "SERIES", "mid_ref": ser, "index": 1},
             {"type": "SEASON", "mid_ref": sea, "index": 1}][: int(rng.integers(0, 3))],
            [{"type": "SEASON", "mid_ref": sea, "index": idx}] if rng.random() < 0.5 else [],
            genres, sched, bcs,
            [{"value": f"Titel {mid}"}] + ([{"value": f"Sub {mid}"}] if rng.random() < 0.5 else []))
    for s in cat.series:
        add(s, "SERIES", _ts(dt.date(2018, 1, 1), 0), 0, "ALL", [], [], [], [], [],
            [{"id": "NOS", "value": "NOS"}], [{"value": f"Serie {s}"}])
    return pa.table(rows, schema=POMS_SCHEMA)


def dim_table(rng, cat):
    n = len(cat.episodes)
    starts = [_ts(dt.date(2019, 1, 1) + dt.timedelta(days=int(d)), 72000)
              for d in rng.integers(0, 730, n)]
    return pa.table({
        "episode_id": [e[0] for e in cat.episodes],
        "series_ref": [e[1] for e in cat.episodes],
        "series_title": [f"Serie {e[1]}" for e in cat.episodes],
        "episode_type": ["BROADCAST" if r < 0.9 else "SEGMENT" for r in rng.random(n)],
        "season_ref": [e[2] for e in cat.episodes],
        "index": pa.array([e[3] for e in cat.episodes], pa.int64()),
        "season_index": pa.array([e[4] for e in cat.episodes], pa.int64()),
        "start_linear_first_broadcast": pa.array(starts, UTC),
    })


def vertaal_table(rng, cat):
    picked = [s for s in cat.series if rng.random() < 0.6]
    n = len(picked)
    cols = {
        "Naam": [f"Serie {s}" for s in picked] + [None],
        "Net": [str(rng.choice(NPO_CHANNELS)) for _ in picked] + [None],
        "Omroep": [str(rng.choice(BROADCASTERS[:6])) for _ in picked] + [None],
        "CCC": [f"CCC{i}" for i in range(n)] + [None],
        "Serie_mid": picked + ["SERX"],
        "Stream_Titel": [f"Serie {s} Stream" for s in picked] + [None],
        "ATI_Titel": [f"serie-{s.lower()}" for s in picked] + [None],
    }
    ids = [int(s[3:]) for s in picked]
    for name, off in (("QL_FB_ID", 100000), ("QL_IG_ID", 200000), ("QL_YT_ID", 300000)):
        cols[name] = pa.array([off + i for i in ids] + [0], pa.int64())
    for t in ("Target_AT_app", "Target_AT_site", "Target_FB_pagelikes",
              "Target_FB_reachperpost", "Target_IG_followers", "Target_IG_reachperpost",
              "Target_YT_subscribers", "Target_YT_views"):
        cols[t] = pa.array(list(rng.integers(100, 10000, n).astype(float)) + [0.0], pa.float64())
    return pa.table(cols), picked


def adv_table(rng, cat, last_day, shows):
    """Per day and channel, `shows` back-to-back evening programmes from 18:00."""
    rows = {k: [] for k in ("date", "beginTimeCET", "endTimeCET", "title", "channel",
                            "mediaId", "kdh", "RepeatType", "audience", "universe")}
    d = ADV_START
    while d <= last_day:
        for ch in ALL_CHANNELS:
            t = 18 * 3600
            eps = rng.integers(0, len(cat.episodes), shows)
            durs = rng.integers(20, 61, shows)
            kdhs = rng.integers(4000, 4000000, shows) / 4.0
            reps = rng.random(shows)
            for i in range(shows):
                ep = cat.episodes[int(eps[i])]
                rows["date"].append(d)
                rows["beginTimeCET"].append(_ts(d, t))
                t += int(durs[i]) * 60
                rows["endTimeCET"].append(_ts(d, t))
                rows["title"].append(f"Titel {ep[0]}")
                rows["channel"].append(ch)
                rows["mediaId"].append(ep[0])
                rows["kdh"].append(float(kdhs[i]))
                rows["RepeatType"].append("FIRST" if reps[i] < 0.8 else "RERUN")
                rows["audience"].append("6+" if reps[i] < 0.95 else "20-49")
                rows["universe"].append("Nat[SKO]")
        d += dt.timedelta(days=1)
    return pa.table({**rows, "beginTimeCET": pa.array(rows["beginTimeCET"], UTC),
                     "endTimeCET": pa.array(rows["endTimeCET"], UTC),
                     "date": pa.array(rows["date"], pa.date32())})


def events_for_day(rng, cat, day, n_streams, n_users):
    """One day of AT Internet media events.

    Every stream (play id) keeps one user, payload and day. Regular VOD
    streams have 1-4 events starting with a Play; live streams are one
    Play event during the evening schedule; a few Animations streams
    are noise the model filters out.
    """
    kind = rng.random(n_streams)  # <0.78 regular, <0.95 live, else animation
    n_ev = np.where(kind < 0.78, rng.integers(1, 5, n_streams), 1)
    ep = rng.integers(0, len(cat.episodes), n_streams)
    user = rng.integers(0, n_users, n_streams)
    start = np.where(kind < 0.78, rng.integers(6 * 3600, 22 * 3600, n_streams),
                     rng.integers(18 * 3600, 22 * 3600, n_streams))
    live_ch = rng.integers(0, 4, n_streams)  # 3 = an unmapped channel id
    platform = rng.integers(0, 3, n_streams)
    theme2_ok = rng.random(n_streams) < 0.9
    brand = rng.integers(0, 3, n_streams)
    cols = {f.name: [] for f in EVENT_SCHEMA}
    day_tag = day.strftime("%Y%m%d")
    total = int(n_ev.sum())
    playback = rng.integers(1, 1200, total) / 4.0
    gaps = rng.integers(30, 300, total)
    pos = 0
    for i in range(n_streams):
        e = cat.episodes[int(ep[i])]
        if kind[i] < 0.95 and kind[i] >= 0.78:
            ch = ["NPO 1", "NPO 2", "NPO 3", "NPO 4"][int(live_ch[i])]
            cid = ["CH1", "CH2", "CH3", "CH9"][int(live_ch[i])]
            content, theme1, typ = f"{ch} Live_||_{cid}", "livetvzender", "Video"
        else:
            content, theme1 = f"Serie {e[1]}_||_{e[0]}", "vod"
            typ = "Video" if kind[i] < 0.95 else "Animations"
        theme2 = f"Programma {e[1]}_||_{BROADCASTERS[int(ep[i]) % 6]}_||_" + \
            ("podcast" if int(ep[i]) % 7 == 0 else "") if theme2_ok[i] else "00:00:01"
        theme3 = ["web_||_1.0", "app_||_2.0", "tv_||_3.1"][int(platform[i])]
        t = int(start[i])
        for j in range(int(n_ev[i])):
            if j:
                t = min(t + int(gaps[pos]), 86399)
            cols["d_rm_playid"].append(f"P{day_tag}_{i}")
            cols["d_visit_id"].append(f"V{day_tag}_{int(user[i]) % 997}")
            cols["d_uv_id"].append(f"U{int(user[i])}")
            cols["d_date_hour_event"].append(_ts(day, t))
            cols["d_rm_action"].append("Play" if j == 0 else ("Refresh", "Pause", "Resume")[j % 3])
            cols["d_rm_l2"].append(("npo", "zapp", "nos")[int(brand[i])])
            cols["d_rm_playback_time"].append(float(playback[pos]))
            cols["d_rm_type"].append(typ)
            cols["d_rm_content"].append(content)
            cols["d_rm_theme1"].append(theme1)
            cols["d_rm_theme2"].append(theme2)
            cols["d_rm_theme3"].append(theme3)
            pos += 1
    return pa.table({**cols, "d_date_hour_event": pa.array(cols["d_date_hour_event"], UTC)},
                    schema=EVENT_SCHEMA)


def weekly_tables(rng, picked, last_day):
    weeks = _mondays(last_day)
    ids = [int(s[3:]) for s in picked]
    yt, fb, ig, pages, prog = ([] for _ in range(5))
    parts = [last_day - dt.timedelta(days=9), last_day - dt.timedelta(days=2)]
    for i in ids:
        for w in weeks:
            wk = _ts(w, 0)
            iso = w.isocalendar()
            for p in parts:
                v = rng.integers(100, 100000, 6)
                yt.append((300000 + i, wk, int(v[0]), int(v[1]) - 50000, int(v[2]) % 500,
                           int(v[3]), int(v[4]), int(v[5]), float(v[0] % 100),
                           float(v[1] % 600), p))
            v = rng.integers(10, 100000, 8)
            fb.append((100000 + i, wk, int(v[0]), int(v[1]) - 50000, int(v[2]) % 40,
                       int(v[3]), int(v[4])))
            ig.append((200000 + i, wk, int(v[5]), int(v[6]) - 50000, int(v[7]) % 30,
                       int(v[0]) % 5, int(v[1]), int(v[2])))
            for plat in ("app", "site"):
                u = rng.integers(10, 50000, 3)
                pages.append((f"serie-ser{i}", plat, w, iso[1], iso[0], int(u[0]), int(u[1]),
                              int(u[2])))
            if i % 5 == 0:
                u = rng.integers(10, 5000, 3)
                prog.append((f"serie-ser{i}", "extra", "site", w, iso[1], iso[0], int(u[0]),
                             int(u[1]), int(u[2])))

    def table(rows, names, types):
        cols = list(zip(*rows)) if rows else [[] for _ in names]
        return pa.table({n: pa.array(list(c), t) for n, c, t in zip(names, cols, types)})

    i64, f64, s = pa.int64(), pa.float64(), pa.string()
    return {
        "src_quintly_youtube_v1": table(yt, [
            "profileId", "intervalBegin", "totalSubscribers", "totalSubscribersChange",
            "totalVideos", "views", "estimatedminuteswatched", "totalengagement",
            "averageViewPercentage", "averageViewDuration", "partitionDate"],
            [i64, UTC, i64, i64, i64, i64, i64, i64, f64, f64, pa.date32()]),
        "quintly_facebook_pages_weekly": table(fb, [
            "profileId", "intervalBegin", "fans", "fansChange", "ownPosts",
            "pageImpressionsUnique", "ownPostsEngagement"], [i64, UTC] + [i64] * 5),
        "quintly_instagram_pages_weekly": table(ig, [
            "profileId", "intervalBegin", "followers", "followersChange", "posts",
            "postschange", "reach", "totalengagement"], [i64, UTC] + [i64] * 6),
        "atinternet_smarttag_pages_weekly_v2": table(pages, [
            "level_2", "platform", "weekdate", "weeknum", "year", "weekly_visitors",
            "daily_visitors", "visits"], [s, s, pa.date32()] + [i64] * 5),
        "atinternet_smarttag_pages_programmes_weekly_v2": table(prog, [
            "level_2", "programme", "platform", "weekdate", "weeknum", "year",
            "weekly_visitors", "daily_visitors", "visits"], [s, s, s, pa.date32()] + [i64] * 5),
    }


def generate(profile, seed, out):
    """Write every source table for (profile, seed) under `out`."""
    p = PROFILES[profile]
    rng = np.random.default_rng([seed, sorted(PROFILES).index(profile)])
    d0 = dt.date.fromisoformat(p["d0"])
    last_day = d0 + dt.timedelta(days=p["extra_days"])
    cat = Catalog(rng, p["series"])
    _write(f"{out}/audiovisual_metadata_poms_metadata_v1.parquet", poms_table(rng, cat))
    _write(f"{out}/dim_poms_episodes.parquet", dim_table(rng, cat))
    vt, picked = vertaal_table(rng, cat)
    _write(f"{out}/360_graden_rapportage_vertaaltabel_upload_20_21.parquet", vt)
    _write(f"{out}/live_stream_name_mapping_v1.parquet", pa.table({
        "channel_id": list(CHANNEL_IDS.values()), "channel": list(CHANNEL_IDS)}))
    _write(f"{out}/advantedge_tv_viewer_density_per_show_daily_v1.parquet",
           adv_table(rng, cat, last_day, p["shows_per_channel"]))
    for name, t in weekly_tables(rng, picked, last_day).items():
        _write(f"{out}/{name}.parquet", t)
    n_users = max(50, p["streams_per_day"] // 3)
    base = [events_for_day(rng, cat, d0 - dt.timedelta(days=k), p["streams_per_day"], n_users)
            for k in range(p["event_days"] - 1, -1, -1)]
    _write(f"{out}/media_events/base.parquet", pa.concat_tables(base))
    for k in range(1, p["extra_days"] + 1):
        day = d0 + dt.timedelta(days=k)
        _write(f"{out}/media_events_days/{day.isoformat()}.parquet",
               events_for_day(rng, cat, day, p["streams_per_day"], n_users))
    meta = dict(p, profile=profile, seed=seed)
    with open(f"{out}/profile.json", "w") as f:
        json.dump(meta, f)
    return meta
