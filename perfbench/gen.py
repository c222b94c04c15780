"""Seeded input generators for the three benchmark workloads.

Every generator takes a `random.Random` built from the run's seed and
writes files that the harness hands to the program unchanged; the same
seed produces the same bytes. Alongside the files each generator returns
the ground truth the output checks compare against (planted reject
counts, the last-writer-wins capacity rows, the delivered document set).
"""

import csv
import datetime as dt
import io
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes. They are sized so one run fits its time budget on a
# 4-core machine; BENCHMARK.json's `why` lines and README.md quote them.
SERVE = dict(regions=300, history_days=60, daily_batches=3, requests=20000,
             latest_share=0.5)
INGEST = dict(regions=1000, history_days=3, batches=16)
STREAM = dict(docs_per_tick=60, ticks=10, near_dup_share=0.1,
              reused_id_share=0.04, embedded_share=0.8)
BATCH_SHARES = dict(correction_share=0.05, lookback_days=7, invalid_share=0.01,
                    dup_share=0.01)

HHS_HEADER = ["date", "state", "inpatient_beds", "inpatient_beds_used",
              "total_staffed_adult_icu_beds",
              "staffed_adult_icu_bed_occupancy"]

# The program's validation cascade, in rule order. Each planted invalid
# row fails exactly one rule first, so the reject reason is known.
REJECT_REASONS = [
    "date is required",
    "invalid date format",
    "region is required",
    "total_beds is required",
    "occupied_beds is required",
    "total_beds cannot be negative",
    "occupied_beds cannot be negative",
    "occupied_beds cannot exceed total_beds",
    "icu_beds cannot be negative",
    "icu_occupied cannot be negative",
    "icu_occupied cannot exceed icu_beds",
]

START_DAY = dt.date(2022, 1, 1)

_SYLLABLES = ["an", "bel", "cor", "dun", "el", "far", "gor", "hal", "is",
              "jor", "kel", "lin", "mar", "nor", "os", "pel", "quin", "ros",
              "sal", "tor", "ul", "val", "wen", "yor", "zan"]


def region_names(rng, n):
    """n distinct region names; the seed picks the spelling."""
    names = set()
    out = []
    while len(out) < n:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(3)).title()
        name = f"{name} {rng.randrange(1000):03d}"
        if name not in names:
            names.add(name)
            out.append(name)
    return out


def capacity_values(rng):
    """One valid (total, occupied, icu, icu_occupied) tuple; None is an
    empty CSV cell. Zero totals and zero ICU beds are planted on
    purpose: they take the program's NULL and truthiness branches."""
    total = 0 if rng.random() < 0.005 else rng.randint(50, 4000)
    occupied = rng.randint(0, total)
    r = rng.random()
    if r < 0.08:
        icu, icu_occ = None, None
    elif r < 0.12:
        icu, icu_occ = 0, 0
    else:
        icu = rng.randint(5, 400)
        icu_occ = None if rng.random() < 0.04 else rng.randint(0, icu)
    return total, occupied, icu, icu_occ


def _cell(v):
    return "" if v is None else str(v)


def _valid_row(day, region, vals):
    return [day.isoformat(), region] + [_cell(v) for v in vals]


def _invalid_row(rng, reason, day, region):
    """A row whose first failing validation rule is `reason`."""
    d = day.isoformat()
    total = rng.randint(50, 400)
    occ = rng.randint(0, total)
    icu = rng.randint(5, 40)
    icu_occ = rng.randint(0, icu)
    row = [d, region, str(total), str(occ), str(icu), str(icu_occ)]
    if reason == "date is required":
        row[0] = ""
    elif reason == "invalid date format":
        row[0] = rng.choice(["not-a-date", "2023-13-45", "31/02/2023"])
    elif reason == "region is required":
        row[1] = rng.choice(["", "   "])
    elif reason == "total_beds is required":
        row[2] = rng.choice(["", "n/a"])
    elif reason == "occupied_beds is required":
        row[3] = rng.choice(["", "unknown"])
    elif reason == "total_beds cannot be negative":
        row[2] = str(-rng.randint(1, 50))
    elif reason == "occupied_beds cannot be negative":
        row[3] = str(-rng.randint(1, 50))
    elif reason == "occupied_beds cannot exceed total_beds":
        row[3] = str(total + rng.randint(1, 50))
    elif reason == "icu_beds cannot be negative":
        row[4] = str(-rng.randint(1, 50))
    elif reason == "icu_occupied cannot be negative":
        row[5] = str(-rng.randint(1, 50))
    elif reason == "icu_occupied cannot exceed icu_beds":
        row[5] = str(icu + rng.randint(1, 50))
    return row


def write_csv(path, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HHS_HEADER)
    w.writerows(rows)
    with open(path, "w", newline="") as f:
        f.write(buf.getvalue())
    return os.path.getsize(path)


def history_rows(rng, regions, days):
    """Clean history: every region on every day, file order = day order.
    Returns (csv rows, {(date, region): values})."""
    rows, truth = [], {}
    for day in days:
        for region in regions:
            vals = capacity_values(rng)
            rows.append(_valid_row(day, region, vals))
            truth[(day, region)] = vals
    return rows, truth


def daily_batch(rng, day, regions, known_days, shares=BATCH_SHARES):
    """One HHS daily batch: all regions for `day`, ~5% back-dated
    corrections over the previous `lookback_days` that the store already
    holds, ~1% invalid rows spread over every reject reason, and ~1%
    in-batch duplicate keys whose later copy must win.

    Returns (rows, planted) where planted carries the valid rows in file
    order (the last-writer-wins truth), the per-reason reject counts and
    the dates the batch touches."""
    valid = []  # ((date, region), values) in file order
    for region in regions:
        valid.append(((day, region), capacity_values(rng)))
    back = [d for d in known_days if 0 < (day - d).days <= shares["lookback_days"]]
    n_corr = round(len(regions) * len(back) * shares["correction_share"])
    corr_keys = rng.sample([(d, r) for d in back for r in regions], n_corr) if back else []
    for key in corr_keys:
        valid.append((key, capacity_values(rng)))
    rng.shuffle(valid)
    n_dup = max(1, round(len(valid) * shares["dup_share"]))
    for i in rng.sample(range(len(valid)), n_dup):
        # a second, later copy of the key with new values
        valid.append((valid[i][0], capacity_values(rng)))
    rows = [_valid_row(k[0], k[1], v) for k, v in valid]
    n_bad = max(len(REJECT_REASONS), round(len(rows) * shares["invalid_share"]))
    reasons = {r: 0 for r in REJECT_REASONS}
    for i in range(n_bad):
        reason = REJECT_REASONS[i % len(REJECT_REASONS)]
        reasons[reason] += 1
        bad = _invalid_row(rng, reason, day, rng.choice(regions))
        rows.insert(rng.randrange(len(rows) + 1), bad)
    touched = sorted({k[0] for k, _ in valid})
    planted = dict(rows_in=len(rows), rows_rejected=n_bad,
                   rows_loaded=len(rows) - n_bad, reasons=reasons,
                   valid=valid, touched=touched)
    return rows, planted


def write_batches(out, batches):
    """batches.tsv: file, day, comma-separated touched dates (what the
    landing notification of a daily file carries)."""
    with open(os.path.join(out, "batches.tsv"), "w") as f:
        for b in batches:
            touched = ",".join(d.isoformat() for d in b["touched"])
            f.write(f"{b['csv']}\t{b['day'].isoformat()}\t{touched}\n")


def apply_valid(truth, valid):
    for key, vals in valid:
        truth[key] = vals


def hhs_files(rng, out, regions, days, n_hist):
    """history.csv with the first `n_hist` days (listed in
    history_days.txt), then one daily batch file per later day, listed in
    batches.tsv. Returns the history's
    truth, its row count and the batches' planted facts."""
    hist_rows, truth = history_rows(rng, regions, days[:n_hist])
    write_csv(os.path.join(out, "history.csv"), hist_rows)
    with open(os.path.join(out, "history_days.txt"), "w") as f:
        f.write(",".join(d.isoformat() for d in days[:n_hist]) + "\n")
    batches = []
    for i, day in enumerate(days[n_hist:]):
        rows, planted = daily_batch(rng, day, regions, days[:n_hist + i])
        planted.update(csv=f"batch_{i:03d}.csv", day=day)
        write_csv(os.path.join(out, planted["csv"]), rows)
        batches.append(planted)
    write_batches(out, batches)
    return truth, len(hist_rows), batches


def make_serve(rng, out):
    """The serving store's inputs: one history CSV, then the last
    `daily_batches` days as separate daily batches, plus a seeded
    request sequence whose dates lean to the latest day."""
    cfg = SERVE
    regions = region_names(rng, cfg["regions"])
    days = [START_DAY + dt.timedelta(d) for d in range(cfg["history_days"])]
    truth, n_hist_rows, batches = hhs_files(rng, out, regions, days,
                                            cfg["history_days"] - cfg["daily_batches"])
    for b in batches:
        apply_valid(truth, b["valid"])
    endpoints = [("capacity_latest", 3), ("metrics_latest", 3), ("dashboard", 4),
                 ("available_dates", 1), ("coverage", 1), ("runs", 1),
                 ("region_lookup", 2)]
    names, weights = zip(*endpoints)
    with open(os.path.join(out, "requests.tsv"), "w") as f:
        for _ in range(cfg["requests"]):
            ep = rng.choices(names, weights)[0]
            if rng.random() < cfg["latest_share"]:
                day = days[-1]
            else:
                # the compare endpoint needs a previous day in the table
                day = days[rng.randrange(1, len(days))]
            f.write(f"{ep}\t{day.isoformat()}\t{rng.choice(regions)}\n")
    return dict(days=days, truth=truth, batches=batches, history_rows=n_hist_rows)


def make_ingest(rng, out):
    """A short clean history, then `batches` sequential daily batches."""
    cfg = INGEST
    regions = region_names(rng, cfg["regions"])
    days = [START_DAY + dt.timedelta(d)
            for d in range(cfg["history_days"] + cfg["batches"])]
    truth, _, batches = hhs_files(rng, out, regions, days, cfg["history_days"])
    return dict(regions=regions, history_truth=truth, batches=batches)


# ---- curation stream ----

_WORDS = ["data", "spark", "table", "query", "batch", "stream", "value", "row",
          "column", "filter", "join", "merge", "window", "hash", "sort", "scan",
          "group", "key", "part", "order", "vector", "line", "model", "index",
          "page", "block", "cache", "store", "file", "node", "task", "stage",
          "plan", "shard", "range", "count", "field", "entry", "token", "graph"]
_STOP = {"en": ["the", "and", "of", "to", "in", "is", "a", "that"],
         "es": ["el", "la", "de", "que", "y", "en", "los", "es"],
         "de": ["der", "die", "und", "das", "ist", "von", "mit", "den"],
         "fr": ["le", "la", "les", "des", "est", "et", "une", "dans"]}
_LANGS = ["en", "en", "en", "es", "de", "fr"]


def _doc_text(rng):
    lang = rng.choice(_LANGS)
    n = rng.randint(20, 90)
    stop_share = rng.choice([0.0, 0.15, 0.3, 0.4])
    toks = [rng.choice(_STOP[lang]) if rng.random() < stop_share
            else rng.choice(_WORDS) for _ in range(n)]
    if rng.random() < 0.1:
        toks = [t.upper() for t in toks]
    return " ".join(toks), lang


def _near_dup(rng, text):
    toks = text.split(" ")
    for _ in range(max(1, len(toks) // 20)):
        toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
    return " ".join(toks)


_DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])


def make_stream(rng, out):
    """Tick files of new documents: ~10% near-duplicates of earlier docs
    (a few words changed), ~2% redeliveries of an earlier doc_id with
    the same bytes (the stream's content-stable overwrite contract), and
    an embeddings table covering ~80% of doc ids."""
    cfg = STREAM
    total = cfg["docs_per_tick"] * cfg["ticks"]
    emb_ids, emb_vecs, emb_labels = [], [], []
    for doc_id in range(total):
        if rng.random() < cfg["embedded_share"]:
            emb_ids.append(doc_id)
            emb_vecs.append([round(rng.uniform(-1, 1), 4) for _ in range(16)])
            emb_labels.append(rng.randrange(8))
    emb = pa.table({"vec_id": pa.array(emb_ids, pa.int64()),
                    "embedding": pa.array(emb_vecs, pa.list_(pa.float32())),
                    "label": pa.array(emb_labels, pa.int32())})
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    seen = []  # (doc_id, text, lang, source) delivered so far
    ticks = []
    for t in range(cfg["ticks"]):
        rows, fresh = [], []
        for _ in range(cfg["docs_per_tick"]):
            r = rng.random()
            if seen and r < cfg["reused_id_share"]:
                rows.append(rng.choice(seen))
                continue
            if seen and r < cfg["reused_id_share"] + cfg["near_dup_share"]:
                src = rng.choice(seen)
                text, lang = _near_dup(rng, src[1]), src[2]
            else:
                text, lang = _doc_text(rng)
            doc = (len(seen) + len(fresh), text, lang, f"tick{t}")
            fresh.append(doc)
            rows.append(doc)
        seen.extend(fresh)
        ids, texts, langs, sources = zip(*rows)
        tbl = pa.table({"doc_id": pa.array(ids, pa.int64()),
                        "text": pa.array(texts), "lang": pa.array(langs),
                        "source": pa.array(sources),
                        "n_chars": pa.array([len(x) for x in texts], pa.int64())},
                       schema=_DOC_SCHEMA)
        name = f"tick_{t:03d}.parquet"
        pq.write_table(tbl, os.path.join(out, name))
        ticks.append(f"{name}\t{len(rows)}\n")
    with open(os.path.join(out, "ticks.tsv"), "w") as f:
        f.writelines(ticks)
    # the expected curated set comes from the batch funnel's oracle SQL
    # over the delivered documents, run by the check
    return {}


GENERATORS = {"serve_api": make_serve, "daily_ingest": make_ingest,
              "stream_curation": make_stream}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into `out`; return the truth."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    return GENERATORS[workload](rng, out)
