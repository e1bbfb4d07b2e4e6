"""Output checks of the benchmark; run untimed, after the timed phase.

Query workloads: each query's collected result (written by the JVM as one
parquet file) is compared with DuckDB running the query's oracle SQL
(`SparkEntry.oracleSql`) over the same generated tables. The comparison
uses the type and value rules of the engine's oracle harness
(`tools/check_oracle.py`): columns sorted by name, arrow types equal up to
timestamp unit and string/list width, same row count, and every value
equal in order.

etl_spotify: the csv tables each daily batch wrote to the processed and
final zones are read back and compared with the generator's expected
record: exact row counts of the four tables, the default rules on every
edge row, and a `latest` pointer per table that resolves to the output.
"""
import glob
import hashlib
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.feather as feather
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
from check_oracle import TABLES, schema_diffs, values_equal  # noqa: E402

ETL_TABLES = ["albums", "tracks", "audio_features", "tracks_with_features"]


def _compare(spark_tbl, duck_tbl):
    """None when equal, else the first difference."""
    s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f"columns spark={s_cols} duck={d_cols}"
    s, d = spark_tbl.select(s_cols), duck_tbl.select(d_cols)
    diffs = schema_diffs(s, d)
    if diffs:
        return "type col={} spark={} duck={}".format(*diffs[0])
    if s.num_rows != d.num_rows:
        return f"rows spark={s.num_rows} duck={d.num_rows}"
    for c in s_cols:
        sv, dv = s.column(c).to_pylist(), d.column(c).to_pylist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if not values_equal(a, b):
                return f"value col={c} row={i} spark={a!r} duck={b!r}"
    return None


def oracle_check(data_dir, results_dir, oracle_sql, cache_dir):
    """{query name: None if it matches the oracle, else the reason}."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name, sql in oracle_sql.items():
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not sql:
            out[name] = "no oracle SQL"
            continue
        if not files:
            out[name] = "no result written"
            continue
        key = hashlib.sha256((os.path.abspath(data_dir) + sql).encode())
        cached = os.path.join(cache_dir, key.hexdigest()[:24] + ".arrow")
        if os.path.exists(cached):
            duck = feather.read_table(cached)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads = 2")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(data_dir, t)}.parquet'")
            try:
                duck = con.execute(sql).arrow()
            except Exception as e:  # an oracle that cannot run is a failure
                out[name] = f"oracle SQL error: {e}"
                continue
            if hasattr(duck, "read_all"):
                duck = duck.read_all()
            feather.write_feather(duck, cached + ".tmp", compression="uncompressed")
            os.replace(cached + ".tmp", cached)
        out[name] = _compare(pq.read_table(files[0]), duck)
    return out


def _read_csv_dir(path):
    files = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if not files:
        return None
    opts = pacsv.ConvertOptions(strings_can_be_null=True,
                                quoted_strings_can_be_null=False)
    tables = []
    for f in files:
        cols = open(f).readline().rstrip("\n").split(",")
        opts.column_types = {c: pa.string() for c in cols}
        tables.append(pacsv.read_csv(f, convert_options=opts))
    return pa.concat_tables(tables)


def _ids(tbl, key, mask):
    return {k for k, m in zip(tbl.column(key).to_pylist(), mask) if m}


def etl_check(base, expect):
    """Problems found in one daily batch's outputs (empty list if none)."""
    problems = []
    edges = {k: set(v) for k, v in expect["edges"].items()}
    for zone in ("processed", "final"):
        zone_dir = os.path.join(base, zone)
        out = {}
        for t in ETL_TABLES:
            pointer = os.path.join(zone_dir, "latest", f"{t}.path")
            if not os.path.exists(pointer):
                problems.append(f"{zone}/{t}: no latest pointer")
                continue
            target = open(pointer).read().strip()
            link = os.path.join(zone_dir, f"{t}_latest.csv")
            if not os.path.isdir(target) or not os.path.exists(link):
                problems.append(f"{zone}/{t}: latest pointer does not resolve")
                continue
            tbl = _read_csv_dir(target)
            if tbl is None:
                problems.append(f"{zone}/{t}: no csv part files")
                continue
            if tbl.num_rows != expect["counts"][t]:
                problems.append(f"{zone}/{t}: {tbl.num_rows} rows, "
                                f"expected {expect['counts'][t]}")
            out[t] = tbl
        if "albums" in out:
            a = out["albums"]
            no_artist = _ids(a, "album_id",
                             [v is None for v in a.column("main_artist_id").to_pylist()])
            if no_artist != edges["empty_artists"]:
                problems.append(f"{zone}/albums: null main_artist_id rows "
                                "differ from the empty-artists albums")
            no_genres = _ids(a, "album_id",
                             [v == "" for v in a.column("artist_genres").to_pylist()])
            if no_genres != edges["null_details"]:
                problems.append(f"{zone}/albums: empty artist_genres rows "
                                "differ from the null-details albums")
        if "tracks" in out:
            t = out["tracks"]
            unknown = _ids(t, "track_id", ["Unknown Artist" in (v or "")
                                           for v in t.column("artists").to_pylist()])
            if unknown != edges["null_artist_name"]:
                problems.append(f"{zone}/tracks: 'Unknown Artist' rows differ "
                                "from the null-artist-name tracks")
            explicit = dict(zip(t.column("track_id").to_pylist(),
                                t.column("explicit").to_pylist()))
            if any(explicit.get(i) != "false" for i in edges["missing_explicit"]):
                problems.append(f"{zone}/tracks: a track without `explicit` "
                                "is not false")
        if "tracks_with_features" in out:
            w = out["tracks_with_features"]
            missing = _ids(w, "track_id",
                           [v is None for v in w.column("danceability").to_pylist()])
            if missing != edges["no_features"]:
                problems.append(f"{zone}/tracks_with_features: null-feature "
                                "rows differ from the tracks without features")
    return problems
