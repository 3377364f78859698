"""Seeded input generator for the pipeline benchmark.

Everything here runs before the benchmark JVM starts, outside every timed
region. The same seed and shape always give byte-identical inputs.

Sensor raw files follow tools/make_raw.py and the reference's raw layout:
one parquet file per UTC day, written by pandas, so `timestamp` is
TIMESTAMP(NANOS). Each file carries injected exact duplicates, null
values, out-of-range values and null batteries. A backfill directory
also holds one wrong-schema file and one corrupt (non-parquet) file.

The curation corpus has the shape of the sf0.1 `documents` and
`embeddings` tables (bag-of-words texts over a 31-word vocabulary,
10-100 words, 64-dim unit embeddings around 10 centres), generated from
the seed, plus seeded exact copies and near-duplicate copies.

Ground truth is written beside the inputs as truth.json.
"""
import datetime as dt
import json
import os

import numpy as np
import pandas as pd

READING_TYPES = ("temperature", "humidity")
CADENCE_MIN = 15
CRITICAL = ["sensor_id", "timestamp", "reading_type", "value"]
BAD_FILES = ("zz_wrong_schema.parquet", "zz_corrupt.parquet")


def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def sensor_ids(n):
    return [f"sensor_{i:03d}" for i in range(n)]


def day_frame(seed, day_index, day, n_sensors):
    """One UTC day of readings for every sensor and reading type, with
    the injected defects."""
    rng = _rng(seed, 1, day_index)
    slots = 24 * 60 // CADENCE_MIN
    sensors = sensor_ids(n_sensors)
    ts = pd.Timestamp(day) + pd.to_timedelta(
        np.arange(slots) * CADENCE_MIN, unit="min")
    rows = []
    for si, s in enumerate(sensors):
        for typ in READING_TYPES:
            base = 25.0 if typ == "temperature" else 60.0
            amp = 6.0 if typ == "temperature" else 15.0
            phase = 2 * np.pi * np.arange(slots) / slots
            value = base + amp * np.sin(phase + si) + rng.normal(0, 1.5, slots)
            battery = np.clip(
                95.0 - 0.02 * (day_index * slots + np.arange(slots))
                + rng.normal(0, 0.5, slots), 5.0, 100.0)
            rows.append(pd.DataFrame({
                "sensor_id": s,
                "timestamp": ts,
                "reading_type": typ,
                "value": value,
                "battery_level": battery,
            }))
    df = pd.concat(rows, ignore_index=True)
    n = len(df)
    # Defects: null batteries (imputed), null values (dropped as
    # critical), out-of-range values (flagged), exact duplicates (removed).
    df.loc[rng.random(n) < 0.05, "battery_level"] = np.nan
    df.loc[rng.random(n) < 0.005, "value"] = np.nan
    df.loc[rng.random(n) < 0.005, "value"] = 999.0
    dups = df.iloc[np.sort(rng.choice(n, size=max(1, n // 100), replace=False))]
    return pd.concat([df, dups], ignore_index=True)


def expected_rows(df):
    """Rows that survive exact dedup and the null-critical drop (the
    default outlier mode only flags)."""
    return int(len(df.drop_duplicates().dropna(subset=CRITICAL)))


def write_day(path, df):
    df.to_parquet(path, index=False)


def write_bad_files(raw_dir):
    pd.DataFrame({
        "sensor_id": ["x"],
        "timestamp": [pd.Timestamp("2024-01-01")],
        "reading_type": ["temperature"],
        "value": ["not_a_double"],  # wrong type
        "extra": [1],               # extra column; battery_level missing
    }).to_parquet(os.path.join(raw_dir, BAD_FILES[0]), index=False)
    with open(os.path.join(raw_dir, BAD_FILES[1]), "w") as f:
        f.write("this is not parquet")


def day_name(start, i):
    return (dt.date.fromisoformat(start) + dt.timedelta(days=i)).isoformat()


def make_backfill(out, seed, days, sensors, start="2024-03-01"):
    raw = os.path.join(out, "raw")
    os.makedirs(raw, exist_ok=True)
    files, raw_rows, stored = [], 0, 0
    for i in range(days):
        day = day_name(start, i)
        df = day_frame(seed, i, day, sensors)
        name = f"{day}.parquet"
        write_day(os.path.join(raw, name), df)
        files.append(name)
        raw_rows += len(df)
        stored += expected_rows(df)
    write_bad_files(raw)
    truth = {"workload": "backfill", "seed": seed, "days": days,
             "sensors": sensors, "good_files": files,
             "bad_files": list(BAD_FILES), "raw_rows": raw_rows,
             "expected_rows": stored}
    _write_truth(out, truth)
    return truth


HISTORY_SEED = 0


def make_history(out, days, sensors, start="2024-03-01"):
    """The `days` history files of daily_increment. They do not depend on
    the run's seed, so the loaded history can be reused across runs."""
    os.makedirs(out, exist_ok=True)
    for i in range(days):
        day = day_name(start, i)
        write_day(os.path.join(out, f"{day}.parquet"),
                  day_frame(HISTORY_SEED, i, day, sensors))


def make_increment(out, seed, days, sensors, start="2024-03-01"):
    """The next day's file (from `seed`) in next/, and the ground truth
    of the history (see make_history) and of that file."""
    nxt = os.path.join(out, "next")
    os.makedirs(nxt, exist_ok=True)
    files, hist_rows, hist_stored = [], 0, 0
    for i in range(days):
        day = day_name(start, i)
        df = day_frame(HISTORY_SEED, i, day, sensors)
        name = f"{day}.parquet"
        files.append(name)
        hist_rows += len(df)
        hist_stored += expected_rows(df)
    day = day_name(start, days)
    df = day_frame(seed, days, day, sensors)
    name = f"{day}.parquet"
    write_day(os.path.join(nxt, name), df)
    truth = {"workload": "daily_increment", "seed": seed, "days": days,
             "sensors": sensors, "history_files": files,
             "history_raw_rows": hist_rows,
             "history_expected_rows": hist_stored,
             "next_file": name, "next_date": day,
             "raw_rows": len(df), "expected_rows": expected_rows(df)}
    _write_truth(out, truth)
    return truth


VOCAB = ("spark window merge table column vector stream value batch part "
         "line order small sort slow fast filter customer string join key "
         "index query plan scan shuffle cache node graph token model").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def make_corpus(out, seed, n_base, n_exact, n_near, dim=64, centres=10,
                emb_frac=0.4):
    """`n_base` distinct documents, then `n_exact` exact copies and
    `n_near` near-duplicate copies (last word replaced or one word
    appended, 3-shingle Jaccard >= 0.9) with larger doc_ids than their
    originals. Embeddings cover the first `emb_frac` of the documents."""
    rng = _rng(seed, 2)
    texts = []
    seen = set()
    while len(texts) < n_base:
        words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
        t = " ".join(words)
        if t not in seen:
            seen.add(t)
            texts.append(t)
    n_base_docs = len(texts)
    exact_ids, near_ids = [], []
    exact_src = rng.choice(n_base_docs, size=n_exact, replace=False)
    for src in exact_src:
        exact_ids.append(len(texts))
        texts.append(texts[src])
    long_docs = [i for i in range(n_base_docs) if len(texts[i].split()) >= 60]
    near_src = rng.choice(long_docs, size=n_near, replace=False)
    for src in near_src:
        words = texts[src].split()
        if rng.random() < 0.5:
            words[-1] = VOCAB[(VOCAB.index(words[-1]) + 1) % len(VOCAB)]
        else:
            words.append(VOCAB[int(rng.integers(len(VOCAB)))])
        near_ids.append(len(texts))
        texts.append(" ".join(words))
    # Shuffle row order but keep ids: copies keep their larger ids.
    n = len(texts)
    order = rng.permutation(n)
    langs = rng.choice([l for l, _ in LANGS], size=n, p=[p for _, p in LANGS])
    docs = pd.DataFrame({
        "doc_id": order.astype(np.int64),
        "text": [texts[i] for i in order],
        "lang": langs[order],
        "source": [f"src{i % 20}" for i in order],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    os.makedirs(out, exist_ok=True)
    docs.to_parquet(os.path.join(out, "documents.parquet"), index=False)

    n_emb = int(n * emb_frac)
    centre = rng.normal(0, 1, (centres, dim))
    label = rng.integers(0, centres, n_emb)
    vec = centre[label] + rng.normal(0, 0.6, (n_emb, dim))
    # semantic duplicates: a few vectors nearly equal to another's
    sem = rng.choice(n_emb, size=(max(1, n_emb // 50), 2), replace=False)
    vec[sem[:, 1]] = vec[sem[:, 0]] + rng.normal(0, 0.01, (len(sem), dim))
    label[sem[:, 1]] = label[sem[:, 0]]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vec],
        "label": label.astype(np.int32),
    }).to_parquet(os.path.join(out, "embeddings.parquet"), index=False)

    truth = {"workload": "curate_corpus", "seed": seed, "input_docs": n,
             "raw_rows": n, "distinct_texts": n_base_docs,
             "exact_copy_ids": sorted(int(i) for i in exact_ids),
             "near_copy_ids": sorted(int(i) for i in near_ids),
             "embeddings": n_emb}
    _write_truth(out, truth)
    return truth


def _write_truth(out, truth):
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
