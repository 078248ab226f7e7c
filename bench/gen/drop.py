"""Seeded date-named CSV drop for the etl_days workload.

The drop stands in for the reference's S3 bucket: ~120 consecutive days,
four objects a day (half of them .csv.gz), file names spread over several
of the reference's date patterns, plus ~10% noise objects that the date
filter must not select. Every object of a day shares one header, so the
CLI reads the day as one homogeneous scan.

Each day's objects hold ~10k rows in total. About 3% of each file's rows
are exact copies of other rows of the same file, and about 2% are copies
of rows of another file of the same day. The pipeline tags each row with
its source file before dedup, so only the within-file copies are removed;
the manifest records the rows that must land per day accordingly.

Half of each day's objects sit under a per-feed prefix (`orders/`,
`sessions/`), the rest at the top level, so the catalog both lists the
top level on the driver and runs its per-subtree listing job. The same
seed gives byte-identical files.
"""
import datetime as dt
import gzip
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

START = dt.date(2024, 1, 1)
FILES_PER_DAY = 4
ROWS_PER_DAY = 10_000
WITHIN_DUP = 0.03
CROSS_DUP = 0.02

# slots whose objects sit under a per-feed prefix named after their stem
PREFIXED_SLOTS = (2, 3)
STEMS = ["events", "clicks", "orders", "sessions"]

# Header as it lands in the drop: `{}`-wrapped and padded names (cleaned by
# the pipeline), epoch-microsecond `ts_us` (coerced to a timestamp), one
# all-empty column (dropped) and a quoted JSON-ish string column.
HEADER = ["{event_id}", "ts_us", " {user_id} ", "session", "event_type",
          "amount", "qty", "country", "device", "props", "{notes}", "flag"]
EMPTY_COLUMNS = 1
# Columns the pipeline adds to every day: ts_us_datetime, source_file,
# processed_date, source_date, files_merged_count.
ADDED_COLUMNS = 5

EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "refund"])
COUNTRIES = np.array(["US", "DE", "FR", "IN", "BR", "JP", "GB", "CA"])
DEVICES = np.array(["ios", "android", "web", "tv"])
PROPS = np.array(['{"k": %d, "tag": "%s"}' % (k, "a,b" if k % 2 == 0 else "c")
                  for k in range(100)])
SESSIONS = np.array(["s%d" % i for i in range(5000 * 7 + 3)])


def _names(day, slot, rng):
    """Object path, relative to the drop, for slot `slot` of `day`: a name
    in one of four date patterns, under its feed prefix for PREFIXED_SLOTS."""
    iso = day.isoformat()
    pattern = rng.integers(0, 4)
    stem = STEMS[slot]
    if pattern == 0:
        name = f"{stem}_{iso}"
    elif pattern == 1:
        name = f"{stem}_{day:%Y%m%d}"
    elif pattern == 2:
        name = f"{stem}_{day:%Y_%m_%d}"
    else:
        name = f"{stem}_{day:%Y.%m.%d}"
    name += ".csv.gz" if slot % 2 else ".csv"
    return f"{stem}/{name}" if slot in PREFIXED_SLOTS else name


def _noise_names(days, rng):
    """~10% extra objects the date filter must reject: year-month only,
    ranges that start before the drop, undated names."""
    out = []
    n = max(3, (len(days) * FILES_PER_DAY) // 10)
    for i in range(n):
        kind = i % 3
        d = days[rng.integers(0, len(days))]
        if kind == 0:
            out.append(f"monthly_summary_{d:%Y-%m}_{i}.csv")
        elif kind == 1:
            a = d - dt.timedelta(days=400)
            out.append(f"backfill_{a.isoformat()}_to_{(a + dt.timedelta(days=6)).isoformat()}_{i}.csv")
        else:
            out.append(f"readme_{i}.csv" if i % 2 else f"lookup_latest_{i}.csv.gz")
    return out


def _rows(day, n, rng, id_base):
    day_us = int(dt.datetime(day.year, day.month, day.day,
                             tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    user = rng.integers(1, 5000, n)
    return {
        "{event_id}": np.arange(id_base, id_base + n, dtype=np.int64),
        "ts_us": day_us + rng.integers(0, 86_400_000_000, n),
        " {user_id} ": user,
        "session": SESSIONS[user * 7 + rng.integers(0, 3, n)],
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "amount": np.round(rng.gamma(2.0, 20.0, n), 2),
        "qty": rng.integers(1, 9, n),
        "country": COUNTRIES[rng.integers(0, len(COUNTRIES), n)],
        "device": DEVICES[rng.integers(0, len(DEVICES), n)],
        "props": PROPS[rng.integers(0, len(PROPS), n)],
        "{notes}": np.full(n, None, dtype=object),
        "flag": rng.random(n) < 0.3,
    }


def _take(cols, idx):
    return {k: v[idx] for k, v in cols.items()}


def _concat(a, b):
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def _csv_bytes(cols):
    arrays = [pa.array(cols[h], type=pa.string()) if h == "{notes}"
              else pa.array(cols[h]) for h in HEADER]
    table = pa.table(arrays, names=HEADER)
    buf = io.BytesIO()
    pacsv.write_csv(table, buf, pacsv.WriteOptions(quoting_style="needed"))
    return buf.getvalue()


def _write(path, data):
    if path.endswith(".gz"):
        raw = io.BytesIO()
        with gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=1, mtime=0) as gz:
            gz.write(data)
        data = raw.getvalue()
    with open(path, "wb") as f:
        f.write(data)


def generate(out_dir, seed, n_days=120):
    """Write the drop under out_dir; return the manifest dict."""
    rng = np.random.default_rng(seed)
    for sub in [""] + [STEMS[s] for s in PREFIXED_SLOTS]:
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    days = [START + dt.timedelta(days=i) for i in range(n_days)]
    manifest = {"seed": seed, "start": days[0].isoformat(), "n_days": n_days,
                "columns": len(HEADER) - EMPTY_COLUMNS + ADDED_COLUMNS,
                "days": {}, "noise": []}
    id_base = 0
    for day in days:
        per_file = ROWS_PER_DAY // FILES_PER_DAY + rng.integers(-200, 201, FILES_PER_DAY)
        files = []
        for slot in range(FILES_PER_DAY):
            n = int(per_file[slot])
            n_within = int(n * WITHIN_DUP)
            base = _rows(day, n - n_within, rng, id_base)
            id_base += n - n_within
            files.append((slot, _concat(base, _take(base, rng.integers(0, n - n_within, n_within)))))
        # cross-file copies: rows of slot s copied into slot s+1, which keep
        # their new source_file and therefore survive dedup
        out = []
        for slot, cols in files:
            src = files[(slot + 1) % FILES_PER_DAY][1]
            n_src = len(src["ts_us"])
            n_cross = int(n_src * CROSS_DUP)
            merged = _concat(cols, _take(src, rng.integers(0, n_src, n_cross)))
            order = rng.permutation(len(merged["ts_us"]))
            out.append((slot, _take(merged, order)))
        day_files, unique_rows, raw_rows = [], 0, 0
        for slot, cols in out:
            name = _names(day, slot, rng)
            _write(os.path.join(out_dir, name), _csv_bytes(cols))
            # a row's content is a function of its event_id, so distinct
            # ids are distinct rows
            raw_rows += len(cols["ts_us"])
            unique_rows += len(np.unique(cols["{event_id}"]))
            day_files.append(name)
        manifest["days"][day.isoformat()] = {
            "files": sorted(day_files), "raw_rows": raw_rows,
            "unique_rows": unique_rows}
    noise_header = b"garbage_a,garbage_b\n1,2\n"
    for name in _noise_names(days, rng):
        _write(os.path.join(out_dir, name), noise_header)
        manifest["noise"].append(name)
    manifest["objects"] = n_days * FILES_PER_DAY + len(manifest["noise"])
    return manifest

