"""Seeded generator of a reference-shaped btcusd minute-bar corpus.

The reference dataset is 732 daily files, `btcusd-YYYY-MM-DD.csv`, from
2011-12-31 to 2013-12-31: one header line, then one row per minute, with
about two thirds of the minutes empty (all seven metric cells blank) and a
partial first day. This module writes files of the same shape from a seed
and works out, without the pipeline's code, what the date-partitioned sink
must hold afterwards:

  * a row survives when its file name is valid, its `Time` parses and at
    least one metric cell is set;
  * within a date, one row per minute survives (the sink's primary key).

Planted shapes: runs of all-empty minutes, a partial first day, duplicate
minutes inside a file, partially-null rows, and invalid-named files whose
rows must never reach the sink (but which are listed, so ledgered).

    python3 perfbench/gen.py --seed 7 --out DIR [--check-duckdb]
"""

import argparse
import datetime as dt
import json
import os
import random

HEADER = "Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price\n"
FIRST_DAY = dt.date(2011, 12, 31)
DAYS = 732
# days after the corpus, landed one at a time by the watch workload
EXTRA_DAYS = 64
MINUTES = 1440
# names that must be listed (they end in .csv) but never reach the sink
INVALID_NAMES = ("ethusd-2012-06-01.csv", "btcusd-2013-02-30.csv")


def day_name(d):
    return "btcusd-%s.csv" % d.isoformat()


def day_rows(seed, d, first_minute=0):
    """Rows of one day's file as CSV text, and the number of minutes the
    sink must keep for it. Seeded per (seed, date), so any day can be
    generated on its own and always comes out the same."""
    rnd = random.Random("%d:%s" % (seed, d.isoformat()))
    # a slow log-price drift, from ~$4 at the start to ~$700 at day 732
    k = (d - FIRST_DAY).days
    price = 4.0 * (175.0 ** (k / DAYS)) * (1.0 + rnd.uniform(-0.05, 0.05))
    out = []
    kept = set()
    traded = rnd.random() < 0.33
    left = 0
    for m in range(first_minute, MINUTES):
        if left == 0:
            # alternating runs: traded ~10 minutes, empty ~20 minutes -> ~33% kept
            traded = not traded
            mean = 10.0 if traded else 20.0
            left = 1 + int(rnd.expovariate(1.0 / mean))
        left -= 1
        t = "%02d:%02d:00" % (m // 60, m % 60)
        if not traded:
            out.append(t + ",,,,,,,\n")
            continue
        price *= 1.0 + rnd.gauss(0.0, 0.002)
        o = price
        c = price * (1.0 + rnd.gauss(0.0, 0.001))
        hi = max(o, c) * (1.0 + abs(rnd.gauss(0.0, 0.0005)))
        lo = min(o, c) * (1.0 - abs(rnd.gauss(0.0, 0.0005)))
        vol = rnd.expovariate(0.5)
        wp = (lo + hi) / 2.0
        r = rnd.random()
        if r < 0.002:
            # partially-null row: one metric set, the rest blank -> kept
            out.append("%s,%.2f,,,,,,\n" % (t, o))
        else:
            out.append("%s,%.2f,%.2f,%.2f,%.2f,%.8f,%.8f,%.8f\n"
                       % (t, o, hi, lo, c, vol, vol * wp, wp))
            if r > 0.9985:
                # duplicate minute, other values: one of the two is kept
                out.append("%s,%.2f,%.2f,%.2f,%.2f,%.8f,%.8f,%.8f\n"
                           % (t, c, hi, lo, o, vol * 2, vol * 2 * wp, wp))
        kept.add(m)
    return "".join(out), len(kept)


def write_day(path, seed, d, first_minute=0):
    text, kept = day_rows(seed, d, first_minute)
    tmp = path + ".part"
    with open(tmp, "w") as f:
        f.write(HEADER)
        f.write(text)
    os.replace(tmp, path)
    return kept, text.count("\n")


def generate(seed, out):
    """Writes `out/corpus` (the 732-day backfill directory, plus invalid
    names and a non-csv file) and `out/extra` (days after the corpus, for
    the watch workload to land). Returns the expected-sink manifest,
    also written to `out/expected.tsv`."""
    corpus = os.path.join(out, "corpus")
    extra = os.path.join(out, "extra")
    os.makedirs(corpus, exist_ok=True)
    os.makedirs(extra, exist_ok=True)
    rnd = random.Random(seed)
    first_minute = rnd.randrange(6 * 60, 10 * 60)  # partial first day
    expected, raw_rows = {}, 0
    for k in range(DAYS):
        d = FIRST_DAY + dt.timedelta(days=k)
        kept, raw = write_day(os.path.join(corpus, day_name(d)), seed, d,
                              first_minute if k == 0 else 0)
        expected[d.isoformat()] = kept
        raw_rows += raw
    for i, name in enumerate(INVALID_NAMES):
        _, raw = write_day(os.path.join(corpus, name), seed,
                           FIRST_DAY + dt.timedelta(days=100 + i))
        raw_rows += raw
    with open(os.path.join(corpus, "notes.txt"), "w") as f:
        f.write("not a csv: never listed\n")
    extra_expected = {}
    for k in range(EXTRA_DAYS):
        d = FIRST_DAY + dt.timedelta(days=DAYS + k)
        kept, _ = write_day(os.path.join(extra, day_name(d)), seed, d)
        extra_expected[d.isoformat()] = kept
    manifest = {"corpus_raw_rows": raw_rows, "corpus": expected,
                "extra": extra_expected}
    # one line per date the sink must hold: <set> <date> <rows>
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        for key in ("corpus", "extra"):
            for d, n in sorted(manifest[key].items()):
                f.write("%s\t%s\t%d\n" % (key, d, n))
    return manifest


def check_duckdb(out, manifest):
    """Recounts what the sink must hold with DuckDB over the same files:
    valid names only, at least one metric set, distinct minutes per date."""
    import duckdb

    con = duckdb.connect()
    for sub, key in (("corpus", "corpus"), ("extra", "extra")):
        rows = con.execute(f"""
            SELECT regexp_extract(filename, '([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})\\.csv$', 1) AS d,
                   count(DISTINCT "Time")
            FROM read_csv('{out}/{sub}/*.csv', header = true, filename = true,
                          all_varchar = true)
            WHERE regexp_matches(filename, '/btcusd-[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}\\.csv$')
              AND try_strptime(regexp_extract(filename, '([0-9-]{{10}})\\.csv$', 1), '%Y-%m-%d') IS NOT NULL
              AND try_strptime("Time", '%H:%M:%S') IS NOT NULL
              AND NOT ("Open" IS NULL AND "High" IS NULL AND "Low" IS NULL AND "Close" IS NULL
                       AND "Volume_(BTC)" IS NULL AND "Volume_(Currency)" IS NULL
                       AND "Weighted_Price" IS NULL)
            GROUP BY 1
        """).fetchall()
        got = {d: n for d, n in rows}
        if got != manifest[key]:
            bad = sorted(set(got.items()) ^ set(manifest[key].items()))[:5]
            raise SystemExit(f"generator disagrees with DuckDB on {sub}: {bad}")
    raw = con.execute(
        f"SELECT count(*) FROM read_csv('{out}/corpus/*.csv', header = true, all_varchar = true)"
    ).fetchone()[0]
    if raw != manifest["corpus_raw_rows"]:
        raise SystemExit(f"DuckDB read {raw} raw rows, the generator wrote {manifest['corpus_raw_rows']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--check-duckdb", action="store_true")
    a = ap.parse_args()
    m = generate(a.seed, a.out)
    if a.check_duckdb:
        check_duckdb(a.out, m)
    kept = sum(m["corpus"].values())
    print(json.dumps({"raw_rows": m["corpus_raw_rows"], "kept": kept,
                      "kept_frac": kept / m["corpus_raw_rows"]}))


if __name__ == "__main__":
    main()
