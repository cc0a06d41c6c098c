"""Seeded, local-only input generators.

Two families:

* ``pipeline_inputs`` writes the reference-schema CSVs `graft.PipelineMain`
  reads: ``streams/*.csv`` (one header per batch file), ``users.csv`` and
  ``songs.csv`` (column sets of `graft.model.Schemas`), with hostile
  fractions: unknown ``track_id``, unparseable ``listen_time``, null genre
  or popularity, and popularity ties.
* ``suite_tables`` writes the star-schema parquet tables the
  `SparkEntry.queries` suite reads (region ... lineitem, events, documents,
  embeddings), shaped like the sf0.01 fixtures.

Everything derives from one ``numpy.random.Generator`` seeded by the
caller, and the writers are single-threaded, so the same seed gives
byte-identical files.
"""

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Pipeline sizes per workload. ``days`` is the span of listen_time;
# ``batches`` the number of stream CSV files.
PIPELINE_SIZES = {
    "pipeline_daily": dict(rows=100_000, batches=8, days=2, songs=10_000,
                           users=10_000, genres=114),
    "pipeline_backfill": dict(rows=20_000, batches=8, days=40, songs=5_000,
                              users=2_000, genres=6),
}

UNKNOWN_TRACK_FRAC = 0.01
BAD_TIME_FRAC = 0.001
NULL_GENRE_FRAC = 0.005
NULL_POPULARITY_FRAC = 0.005
BAD_TIMES = np.array(["not-a-time", "2024-13-45 99:99:99", "yesterday",
                      "N/A", "??"], dtype=object)
START = dt.datetime(2024, 6, 1)

_WORDS = np.array(
    ("love night dance fire heart rain blue gold dream road city light "
     "summer wild young river ghost echo neon storm").split(), dtype=object)


def _csv(table, path):
    opts = pacsv.WriteOptions(include_header=True, batch_size=1 << 16)
    pacsv.write_csv(table, str(path), write_options=opts)


def _with_nulls(values, rng, frac):
    mask = rng.random(len(values)) < frac
    return pa.array(values, mask=mask)


def pipeline_inputs(workload, seed, out):
    """Write streams/users/songs CSVs for ``workload`` under ``out``."""
    size = PIPELINE_SIZES[workload]
    rng = np.random.default_rng([seed, 1])
    out = Path(out)
    (out / "streams").mkdir(parents=True, exist_ok=True)

    n_songs, n_users, n_genres = size["songs"], size["users"], size["genres"]
    track_ids = np.array([f"tr{v:09d}" for v in
                          rng.permutation(10 * n_songs)[:n_songs]], dtype=object)
    genres = np.array([f"genre_{g:03d}" for g in range(n_genres)], dtype=object)
    n_artists = max(50, n_songs // 8)
    artists = np.array([f"artist {a}" for a in range(n_artists)], dtype=object)
    titles = _WORDS[rng.integers(0, len(_WORDS), n_songs)] + " " + \
        _WORDS[rng.integers(0, len(_WORDS), n_songs)]
    songs = pa.table({
        "id": np.arange(n_songs, dtype=np.int32),
        "track_id": track_ids,
        "artists": artists[rng.zipf(1.3, n_songs) % n_artists],
        "album_name": "album " + (rng.integers(0, n_songs // 4 + 1, n_songs))
        .astype(str).astype(object),
        "track_name": titles,
        # a 0..100 range over thousands of songs per genre gives popularity
        # ties inside every (date, genre) group
        "popularity": _with_nulls(rng.integers(0, 101, n_songs, dtype=np.int32),
                                  rng, NULL_POPULARITY_FRAC),
        "duration_ms": rng.integers(60_000, 420_000, n_songs, dtype=np.int32),
        "explicit": rng.random(n_songs) < 0.2,
        "danceability": np.round(rng.random(n_songs), 3),
        "energy": np.round(rng.random(n_songs), 3),
        "song_key": rng.integers(0, 12, n_songs, dtype=np.int32),
        "loudness": np.round(rng.uniform(-30, 0, n_songs), 3),
        "mode": rng.integers(0, 2, n_songs, dtype=np.int32),
        "speechiness": np.round(rng.random(n_songs), 4),
        "acousticness": np.round(rng.random(n_songs), 4),
        "instrumentalness": np.round(rng.random(n_songs), 4),
        "liveness": np.round(rng.random(n_songs), 4),
        "valence": np.round(rng.random(n_songs), 4),
        "tempo": np.round(rng.uniform(60, 200, n_songs), 3),
        "time_signature": rng.integers(3, 6, n_songs, dtype=np.int32),
        "track_genre": _with_nulls(genres[rng.integers(0, n_genres, n_songs)],
                                   rng, NULL_GENRE_FRAC),
    })
    _csv(songs, out / "songs.csv")

    created = np.datetime64("2015-01-01") + rng.integers(0, 3000, n_users)
    users = pa.table({
        "user_id": np.arange(1, n_users + 1, dtype=np.int64),
        "user_name": np.array([f"user{u}" for u in range(1, n_users + 1)],
                              dtype=object),
        "user_age": rng.integers(13, 90, n_users, dtype=np.int32),
        "user_country": np.array(["US", "GB", "DE", "BR", "IN", "JP", "GH",
                                  "FR"], dtype=object)[
            rng.integers(0, 8, n_users)],
        "created_at": created,
    })
    _csv(users, out / "users.csv")

    rows, days = size["rows"], size["days"]
    # skewed song popularity, so plays concentrate like real listening
    song_idx = (rng.zipf(1.2, rows) - 1) % n_songs
    tracks = track_ids[song_idx]
    unknown = rng.random(rows) < UNKNOWN_TRACK_FRAC
    tracks[unknown] = np.array([f"xx{v:09d}" for v in
                                rng.integers(0, 10**9, int(unknown.sum()))],
                               dtype=object)
    secs = np.sort(rng.integers(0, days * 86_400, rows))
    times = pc.strftime(pa.array(np.datetime64(START, "s") + secs),
                        format="%Y-%m-%d %H:%M:%S")
    bad = rng.random(rows) < BAD_TIME_FRAC
    times = pc.if_else(pa.array(bad),
                       pa.array(BAD_TIMES[rng.integers(0, len(BAD_TIMES), rows)]),
                       times)
    streams = pa.table({
        "user_id": rng.integers(1, n_users + 1, rows, dtype=np.int64),
        "track_id": tracks,
        "listen_time": times,
    })
    bounds = np.linspace(0, rows, size["batches"] + 1).astype(int)
    for b in range(size["batches"]):
        _csv(streams.slice(bounds[b], bounds[b + 1] - bounds[b]),
             out / "streams" / f"batch_{b:03d}.csv")
    return out


# --- suite tables -----------------------------------------------------------

SUITE_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, documents=500, embeddings=500)
_DOC_WORDS = np.array(
    ("a the big small fast slow table row column key value join agg sort "
     "hash scan filter group order part line customer query data batch "
     "stream window spark merge vector").split(), dtype=object)


def _parquet(table, path):
    pq.write_table(table, str(path), compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def suite_tables(seed, out):
    """Write the sf0.01-shaped parquet tables under ``out``."""
    rng = np.random.default_rng([seed, 2])
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    n = SUITE_ROWS

    _parquet(pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), out / "region.parquet")
    _parquet(pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), out / "nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"], dtype=object)
    _parquet(pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    }), out / "customer.parquet")
    _parquet(pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }), out / "supplier.parquet")
    adj = np.array("small red blue hot cold old new large".split(), dtype=object)
    noun = np.array("bolt gear ring rod plate anvil widget gizmo".split(),
                    dtype=object)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"], dtype=object)
    _parquet(pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": adj[rng.integers(0, 8, n["part"])] + " " +
        noun[rng.integers(0, 8, n["part"])],
        "p_brand": np.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n["part"])], dtype=object),
        "p_type": types[rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"], dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
    }), out / "part.parquet")

    day0 = np.datetime64("1995-01-01", "us")
    us_day = np.timedelta64(86_400_000_000, "us")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"], dtype=object)
    _parquet(pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"], dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2404, n["orders"]) * us_day,
                                type=pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n["orders"])],
    }), out / "orders.parquet")
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _parquet(pa.table({
        "l_orderkey": rng.integers(0, n["orders"], li, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[
            rng.integers(0, 2, li)],
        "l_shipdate": pa.array(day0 + rng.integers(1, 2499, li) * us_day,
                               type=pa.timestamp("us")),
    }), out / "lineitem.parquet")

    ev = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ev))
    _parquet(pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us,
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"],
                               dtype=object)[rng.integers(0, 5, ev)],
        "value": np.round(rng.exponential(50, ev) + 0.01, 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
                          dtype=object),
    }), out / "events.parquet")

    docs = n["documents"]
    lens = rng.integers(8, 80, docs)
    texts = [" ".join(_DOC_WORDS[rng.integers(0, len(_DOC_WORDS), k)])
             for k in lens]
    # a few near-duplicates (one word changed) for the dedup operators
    for i in range(0, docs, 25):
        words = texts[i].split()
        words[-1] = "merge" if words[-1] != "merge" else "join"
        texts[(i + 7) % docs] = " ".join(words)
    _parquet(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en"] * 3 + ["de", "es", "fr", "zh"], dtype=object)[
            rng.integers(0, 7, docs)],
        "source": np.array([f"src{i % 20}" for i in range(docs)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out / "documents.parquet")

    emb = n["embeddings"]
    labels = rng.integers(0, 10, emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _parquet(pa.table({
        "vec_id": np.arange(emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), out / "embeddings.parquet")
    return out
