"""Seeded generator for Spotify raw extraction documents (FIXTURES.md §1).

Each document is one pretty-printed JSON object shaped like the reference's
`extract_full_dataset()` output: releases with nested tracks and artists,
audio_features and categories. Every document carries each edge-row kind
the transform rules default on, at a fixed share of its rows:

  empty_artists      album with `artists: []`        -> null main_artist_id
  null_details       album with null details          -> artist_genres ""
  null_artist_name   track artist with `name: null`  -> "Unknown Artist"
  missing_explicit   track without an `explicit` key  -> explicit false
  null_feature       a null entry in audio_features   -> dropped
  no_features        track with no audio-feature row  -> null features

Next to each `day<k>.json` it writes `day<k>.expect.json` with the row
counts of the four output tables and the ids of every edge row, which the
benchmark's ETL check compares the written outputs against.

Usage: python3 perfbench/gen_spotify.py <out_dir> <seed> <days> <albums>
"""
import json
import os
import random
import string
import sys

ALPHABET = string.ascii_letters + string.digits
GENRES = ["pop", "rock", "latin", "indie", "jazz", "metal", "folk", "edm",
          "reggaeton", "soul", "trap", "ambient"]
WORDS = ["blue", "night", "fire", "river", "gold", "echo", "storm", "heart",
         "dream", "city", "light", "shadow", "summer", "wild", "ghost", "sun"]
MARKETS = ["AR", "BR", "CO", "DE", "ES", "FR", "GB", "MX", "US", "JP"]
EDGE_SHARE = 0.02


def _id(rng):
    return "".join(rng.choice(ALPHABET) for _ in range(22))


def _title(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n)).title()


def _artist(rng):
    return {"id": _id(rng), "name": _title(rng, 2)}


def _release_date(rng):
    y = rng.randint(1970, 2024)
    kind = rng.random()
    if kind < 0.1:
        return str(y)
    if kind < 0.2:
        return f"{y}-{rng.randint(1, 12):02d}"
    return f"{y}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def document(rng, n_albums, day):
    """One raw document plus its expected-output record."""
    edge = {k: [] for k in ("empty_artists", "null_details", "null_artist_name",
                            "missing_explicit", "no_features")}
    releases, features = [], []
    n_tracks = 0
    for _ in range(n_albums):
        album_id = _id(rng)
        artists = [_artist(rng) for _ in range(rng.randint(1, 3))]
        if rng.random() < EDGE_SHARE:
            artists = []
            edge["empty_artists"].append(album_id)
        details = None
        if artists and rng.random() >= EDGE_SHARE:
            details = {"id": artists[0]["id"], "name": artists[0]["name"],
                       "popularity": rng.randint(0, 100),
                       "genres": rng.sample(GENRES, rng.randint(1, 3)),
                       "followers": {"total": rng.randint(0, 5_000_000)}}
        else:
            edge["null_details"].append(album_id)
        tracks = []
        for number in range(1, rng.randint(4, 16) + 1):
            track_id = _id(rng)
            track_artists = artists[:1] or [_artist(rng)]
            track_artists = [dict(a) for a in track_artists]
            if rng.random() < EDGE_SHARE:
                track_artists.append({"id": _id(rng), "name": None})
                edge["null_artist_name"].append(track_id)
            track = {"id": track_id, "name": _title(rng, rng.randint(1, 4)),
                     "track_number": number,
                     "duration_ms": rng.randint(60_000, 420_000),
                     "explicit": rng.random() < 0.3,
                     "artists": track_artists,
                     "external_urls": {
                         "spotify": f"https://open.spotify.com/track/{track_id}"}}
            if rng.random() < EDGE_SHARE:
                del track["explicit"]
                edge["missing_explicit"].append(track_id)
            tracks.append(track)
            if rng.random() < EDGE_SHARE:
                edge["no_features"].append(track_id)
            else:
                features.append({"id": track_id,
                                 "danceability": round(rng.random(), 3),
                                 "energy": round(rng.random(), 3),
                                 "loudness": round(rng.uniform(-30, 0), 3),
                                 "tempo": round(rng.uniform(60, 200), 3)})
        n_tracks += len(tracks)
        releases.append({
            "album_id": album_id, "album_name": _title(rng, rng.randint(1, 3)),
            "album_type": rng.choice(["album", "single", "compilation"]),
            "release_date": _release_date(rng),
            "total_tracks": len(tracks), "popularity": rng.randint(0, 100),
            "artists": artists, "main_artist_details": details,
            "tracks": tracks,
            "image_url": f"https://i.scdn.co/image/{album_id}",
            "spotify_url": f"https://open.spotify.com/album/{album_id}",
            "available_markets": rng.sample(MARKETS, rng.randint(1, 5))})
    n_features = len(features)
    n_null = max(1, int(n_features * EDGE_SHARE))
    for _ in range(n_null):
        features.insert(rng.randint(0, len(features)), None)
    doc = {"extraction_timestamp": f"2024-03-{day + 1:02d}T06:00:00",
           "releases": releases, "audio_features": features,
           "categories": [{"id": g, "name": g.title()} for g in GENRES]}
    expect = {"counts": {"albums": n_albums, "tracks": n_tracks,
                         "audio_features": n_features,
                         "tracks_with_features": n_tracks},
              "null_features": n_null, "edges": edge}
    return doc, expect


def generate(out, seed, days, n_albums):
    """Write `days` documents and their expected records under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    for day in range(days):
        doc, expect = document(rng, n_albums, day)
        path = os.path.join(out, f"day{day}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=2)
        expect["bytes"] = os.path.getsize(path)
        with open(os.path.join(out, f"day{day}.expect.json"), "w") as f:
            json.dump(expect, f)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
