"""Seeded input generators for the pipeline benchmark.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files, a different seed gives different content of the
same shape. The engine only ever sees the files written here.

- `tables(seed, out)`: a seeded transform of the bundled base tables
  (data/sf0.01): a ~90 % subset of the fact keys (orders + their
  lineitems), of the documents and of the embeddings, with every table's
  rows shuffled.
- `ifcb_days(seed, out, days)`: raw IFCB bin trios (.hdr/.adc/.roi), one
  directory per delivery day, plus the dims the ingest job joins and a
  manifest of the planted bad bins.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")

DIMS = ["region", "nation", "customer", "supplier", "part"]
KEEP_SHARE = 0.9

# Planted bad bins, PLANTED_PER_DAY per day in this rotation. Each kind has
# its own expected fate in the ingest job (dead-letter reason or blacklist
# skip).
PLANTED = ["empty", "oversize", "idless", "bad_date", "blacklisted"]
PLANTED_PER_DAY = 3
DEAD_REASON = {"empty": "empty", "oversize": "oversize",
               "idless": "no_sample_id", "bad_date": "bad_sample_date"}
MAX_BIN_BYTES = 60_000      # the job's size gate for these bins
CLEAN_BINS_PER_DAY = 6
ROIS_PER_BIN = (8, 16)      # inclusive range of ROIs in a clean bin
OVERSIZE_ROIS = 45          # ~45 x 1.6 kB > MAX_BIN_BYTES


def _write(table, path):
    # no pandas metadata, fixed writer options: byte-stable output
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", use_dictionary=True)


def _shuffle(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _subset(table, key, rng):
    keys = np.unique(table.column(key).to_numpy())
    keep = np.sort(rng.choice(keys, size=int(round(len(keys) * KEEP_SHARE)),
                              replace=False))
    mask = np.isin(table.column(key).to_numpy(), keep)
    return table.filter(pa.array(mask)), keep


def tables(seed, out):
    """Writes the seeded table set to `out`; returns its row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    read = lambda t: pq.read_table(os.path.join(BASE, f"{t}.parquet"))
    counts = {}
    for t in DIMS:
        tb = _shuffle(read(t), rng)
        _write(tb, os.path.join(out, f"{t}.parquet"))
        counts[t] = tb.num_rows
    orders, keep = _subset(read("orders"), "o_orderkey", rng)
    li = read("lineitem")
    li = li.filter(pa.array(np.isin(li.column("l_orderkey").to_numpy(), keep)))
    for name, tb in [("orders", orders), ("lineitem", li)]:
        tb = _shuffle(tb, rng)
        _write(tb, os.path.join(out, f"{name}.parquet"))
        counts[name] = tb.num_rows
    for name, key in [("documents", "doc_id"), ("embeddings", "vec_id")]:
        tb, _ = _subset(read(name), key, rng)
        tb = _shuffle(tb, rng)
        _write(tb, os.path.join(out, f"{name}.parquet"))
        counts[name] = tb.num_rows
    return counts


# --- IFCB raw bins ---------------------------------------------------------

def _wrap64(x):
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def _jmod(a, b):
    # Java/Scala remainder: the sign follows the dividend
    r = abs(a) % b
    return -r if a < 0 else r


def render_roi(seed):
    """One synthetic ROI raster, built exactly as the engine's
    `FeatureExtract.renderRoi` builds it (64-bit wrapping LCG included):
    a bright background with one dark noisy ellipse. Returns
    (pixels, height, width)."""
    h = 30 + seed % 11
    w = 36 + seed % 13
    cy, cx = h / 2.0, w / 2.0
    ry, rx = 4.0 + seed % 7, 5.0 + seed % 9
    state = _wrap64(seed * 2654435761 + 7)
    px = bytearray(h * w)
    for i in range(h):
        dy = (i - cy) / ry
        for j in range(w):
            dx = (j - cx) / rx
            base = 80 if dy * dy + dx * dx <= 1.0 else 200
            state = _jmod(_wrap64(state * 1103515245 + 12345), 1 << 31)
            px[i * w + j] = (base + (state & 0x7fffffff) % 21) & 0xFF
    return bytes(px), h, w


def _bin_files(rois):
    """(.roi payload, .adc text) for a list of rendered ROIs."""
    payload = bytearray()
    rows = ["roi_number,width,height,start_byte"]
    for k, (px, h, w) in enumerate(rois, start=1):
        rows.append(f"{k},{w},{h},{len(payload)}")
        payload += px
    return bytes(payload), "\n".join(rows) + "\n"


def _fix_time(ts):
    return ts.strftime("%b/%d/%Y %H:%M:%S.000")


def ifcb_days(seed, out, days):
    """Writes `days` delivery days of raw bins under out/dNN/ and the job's
    dims + expectations to out/manifest.json; returns the manifest."""
    rng = np.random.default_rng(seed)
    inst = int(rng.integers(100, 200))
    start = datetime.datetime(2024, 6, 1)
    manifest = {"instrument": inst, "max_bin_bytes": MAX_BIN_BYTES,
                "days": [], "blacklist": [], "ferrybox": [],
                "expected_dead": {}, "expected_blacklisted": 0,
                "clean_rois": 0}
    roi_seed = int(rng.integers(1, 1_000_000))
    for d in range(days):
        ddir = os.path.join(out, f"d{d + 1:02d}")
        os.makedirs(ddir, exist_ok=True)
        day = start + datetime.timedelta(days=d)
        secs = np.sort(rng.choice(np.arange(3600, 86000, 60),
                                  CLEAN_BINS_PER_DAY + PLANTED_PER_DAY, replace=False))
        stamps = [day + datetime.timedelta(seconds=int(s)) for s in secs]
        files, day_rois = [], 0
        for b, ts in enumerate(stamps):
            slot = b - CLEAN_BINS_PER_DAY
            planted = slot >= 0
            kind = PLANTED[(PLANTED_PER_DAY * d + slot) % len(PLANTED)] if planted else None
            sid = ts.strftime("D%Y%m%dT%H%M%S") + f"_IFCB{inst}"
            n = int(rng.integers(ROIS_PER_BIN[0], ROIS_PER_BIN[1] + 1))
            if planted and kind == "oversize":
                n = OVERSIZE_ROIS
            if planted and kind == "idless":
                sid = f"notes_{d + 1:02d}_{slot}"
            if planted and kind == "bad_date":
                sid = ts.strftime("D%Y13%dT%H%M%S") + f"_IFCB{inst}"
            rois = [render_roi(roi_seed + k) for k in range(n)]
            roi_seed += n
            payload, adc = _bin_files(rois)
            if planted and kind == "empty":
                payload, adc = b"", "roi_number,width,height,start_byte\n"
            # GPS: most bins carry a fresh fix; some a stale one (coords
            # nulled), some none (ferrybox fallback when one is near)
            u = rng.random()
            lat = round(float(rng.uniform(55.0, 59.5)), 5)
            lon = round(float(rng.uniform(10.5, 20.0)), 5)
            hdr = ["softwareVersion: 4.1",
                   f"runTime: {round(float(rng.uniform(1100, 1300)), 3)}",
                   f"inhibitTime: {round(float(rng.uniform(20, 80)), 3)}",
                   f"humidity: {round(float(rng.uniform(10, 60)), 2)}"]
            if u < 0.7:
                fix = ts - datetime.timedelta(seconds=int(rng.integers(5, 300)))
                hdr += [f"gpsLatitude: {lat}", f"gpsLongitude: {lon}",
                        f"gpsTimeFromFix: {_fix_time(fix)}"]
            elif u < 0.85:
                fix = ts - datetime.timedelta(minutes=int(rng.integers(20, 90)))
                hdr += [f"gpsLatitude: {lat}", f"gpsLongitude: {lon}",
                        f"gpsTimeFromFix: {_fix_time(fix)}"]
            else:
                off = int(rng.integers(-120, 120))
                manifest["ferrybox"].append(
                    [(ts + datetime.timedelta(seconds=off)).isoformat(sep=" "),
                     lat, lon])
            for ext, data in [(".roi", payload), (".adc", adc.encode()),
                              (".hdr", ("\n".join(hdr) + "\n").encode())]:
                with open(os.path.join(ddir, sid + ext), "wb") as f:
                    f.write(data)
                files.append(sid + ext)
            if planted:
                if kind == "blacklisted":
                    manifest["blacklist"].append(sid)
                    manifest["expected_blacklisted"] += 1
                else:
                    r = DEAD_REASON[kind]
                    manifest["expected_dead"][r] = \
                        manifest["expected_dead"].get(r, 0) + 1
            else:
                day_rois += n
        manifest["clean_rois"] += day_rois
        manifest["days"].append({"dir": os.path.basename(ddir),
                                 "files": sorted(files), "rois": day_rois})
    first, last = start, start + datetime.timedelta(days=max(days // 2, 1))
    manifest["cruises"] = [[str(int(rng.integers(1, 99))),
                            first.isoformat(sep=" "), last.isoformat(sep=" ")]]
    # Baltic box (lat 55-58, lon 14-20); bins outside tag skagerrak_kattegat
    manifest["baltic"] = [[55.0, 14.0], [58.0, 14.0], [58.0, 20.0], [55.0, 20.0]]
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
