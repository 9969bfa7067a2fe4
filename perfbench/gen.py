"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its parameters and the seed. The
expected ETL results (rows loaded, rejections per category x step) are
computed here in plain Python, row by row, with no Spark involved, so
the benchmark checks the engine against an independent model of
gratum's step semantics.
"""

from __future__ import annotations

import csv
import datetime as dt
import functools
import hashlib
import json
import os
import random
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Generator parameters per workload: "full" is what the timed runs use,
# "smoke" the smallest inputs (sf0.001-sized) for the one-iteration smoke
# mode. BENCHMARK.json's workload notes repeat the "full" values.
PARAMS = {
    "etl_csv": {
        "full": {"rows": 100_000, "dup_share": 0.05, "bad_age_share": 0.01,
                 "bad_date_share": 0.005, "bad_status_share": 0.10},
        "smoke": {"rows": 1_000, "dup_share": 0.05, "bad_age_share": 0.01,
                  "bad_date_share": 0.005, "bad_status_share": 0.10},
    },
    "corpus_curation": {
        "full": {"docs": 600, "vocab": 400, "words_min": 30, "words_max": 160,
                 "exact_dup_share": 0.05, "near_dup_share": 0.05, "near_dup_edit": 0.05},
        "smoke": {"docs": 500, "vocab": 400, "words_min": 30, "words_max": 160,
                  "exact_dup_share": 0.05, "near_dup_share": 0.05, "near_dup_edit": 0.05},
    },
}

STATUS_KEPT = ("active", "pending")
STATUS_REJECTED = ("inactive", "banned")
CITIES = ("Paris", "Berlin", "Lagos", "Lima", "Osaka", "Quito", "Perth", "Oslo")
BAD_AGES = ("unknown", "n/a", "x7", "12.5", "forty")
BAD_DATES = ("unknown", "n/a", "TBD", "00-00", "2019/07")
DATE_FORMATS = ("yyyy-MM-dd", "MM/dd/yyyy")

# Step names as Pipeline reports them in LoadStatistic.rejections
STEP_STATUS = "status"
STEP_AGE = "asInt(age)"
STEP_DATE = "asDate(signup)"
STEP_UNIQUE = "unique(id)"

INT_RE = re.compile(r"[+-]?[0-9]+\Z")


_JAVA_WS = "".join(chr(c) for c in range(0x21))


def _java_trim(s: str) -> str:
    """String.trim(): strips every char <= U+0020 from both ends."""
    return s.strip(_JAVA_WS)


def _pad(s: str, rng: random.Random) -> str:
    return " " * rng.randint(0, 2) + s + " " * rng.randint(0, 2)


def people_rows(n: int, p: dict, rng: random.Random) -> list[list[str]]:
    """Messy person records: padded categoricals, mixed ISO/US dates,
    a share of unparsable ages and dates, rejected statuses, and exact
    duplicate rows (same id, same fields) placed after their original."""
    rows: list[list[str]] = []
    epoch = dt.date(2015, 1, 1)
    n_orig = int(round(n * (1 - p["dup_share"])))
    for i in range(n_orig):
        age = (rng.choice(BAD_AGES) if rng.random() < p["bad_age_share"]
               else str(rng.randint(18, 90)))
        day = epoch + dt.timedelta(days=rng.randint(0, 3650))
        if rng.random() < p["bad_date_share"]:
            signup = rng.choice(BAD_DATES)
        elif rng.random() < 0.5:
            signup = day.strftime("%Y-%m-%d")
        else:
            signup = day.strftime("%m/%d/%Y")
        status = (rng.choice(STATUS_REJECTED) if rng.random() < p["bad_status_share"]
                  else rng.choice(STATUS_KEPT))
        rows.append([
            str(i), f"name{rng.randint(0, 99_999)}", age,
            f"{rng.uniform(0, 100):.2f}", signup, _pad(status, rng), _pad(rng.choice(CITIES), rng),
        ])
    # each duplicate goes to a random place after its original
    keyed = [(float(i), r) for i, r in enumerate(rows)]
    for _ in range(n - n_orig):
        j = rng.randrange(n_orig)
        keyed.append((j + 0.5 + rng.random() * (n_orig - j), list(rows[j])))
    keyed.sort(key=lambda kr: kr[0])
    return [r for _, r in keyed]


PEOPLE_HEADER = ["id", "name", "age", "score", "signup", "status", "city"]


@functools.lru_cache(maxsize=None)
def _parses_date(s: str) -> bool:
    for fmt in ("%Y-%m-%d", "%m/%d/%Y"):
        try:
            dt.datetime.strptime(s, fmt)
            return True
        except ValueError:
            pass
    return False


def expected_etl(rows: list[list[str]]) -> dict:
    """The LoadStatistic that the etl chain must report, computed row by
    row: trim -> filter(status) -> asInt(age) -> asDouble(score) ->
    asDate(signup) -> unique(id). Each row stops at its first rejecting
    step."""
    rej = {"IGNORE_ROW": {STEP_STATUS: 0, STEP_UNIQUE: 0}, "INVALID_FORMAT": {STEP_AGE: 0, STEP_DATE: 0}}
    seen: set[str] = set()
    loaded = 0
    for raw in rows:
        r = dict(zip(PEOPLE_HEADER, (_java_trim(v) for v in raw)))
        if r["status"] not in STATUS_KEPT:
            rej["IGNORE_ROW"][STEP_STATUS] += 1
        elif not INT_RE.match(r["age"]):
            rej["INVALID_FORMAT"][STEP_AGE] += 1
        elif not _parses_date(r["signup"]):
            rej["INVALID_FORMAT"][STEP_DATE] += 1
        elif r["id"] in seen:
            rej["IGNORE_ROW"][STEP_UNIQUE] += 1
        else:
            seen.add(r["id"])
            loaded += 1
    rej = {cat: {s: n for s, n in by.items() if n} for cat, by in rej.items()}
    return {"loaded": loaded, "rejections": {c: b for c, b in rej.items() if b}}


def _write_people(path: str, rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(PEOPLE_HEADER)
        w.writerows(rows)


def gen_etl_csv(out: str, p: dict, seed: int) -> dict:
    rows = people_rows(p["rows"], p, random.Random(seed))
    path = os.path.join(out, "people.csv")
    _write_people(path, rows)
    return {"csv": path, "expected": expected_etl(rows)}


def _vocab(n: int, rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 9)))))
    return sorted(words)


def gen_documents(out: str, p: dict, seed: int) -> dict:
    """documents.parquet in the sf schema. Exact-duplicate and
    near-duplicate families are planted: a near duplicate replaces a
    share ``near_dup_edit`` of an original's words."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(p["vocab"], rng))
    n = p["docs"]
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < p["exact_dup_share"]:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < p["exact_dup_share"] + p["near_dup_share"]:
            ws = texts[int(rng.integers(0, i))].split(" ")
            edit = rng.random(len(ws)) < p["near_dup_edit"]
            ws = [str(rng.choice(vocab)) if e else w for w, e in zip(ws, edit)]
            texts.append(" ".join(ws))
        else:
            k = int(rng.integers(p["words_min"], p["words_max"] + 1))
            texts.append(" ".join(rng.choice(vocab, size=k)))
    langs = rng.choice(["en", "de", "fr", "es", "zh"], size=n, p=[0.44, 0.14, 0.13, 0.15, 0.14])
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return {}


GENERATORS = {
    "etl_csv": gen_etl_csv,
    "corpus_curation": gen_documents,
}


def input_bytes(out: str) -> int:
    return sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith((".csv", ".parquet"))
    )


def _oracle_frames(out: str, sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    if not sql:
        return {}
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{out}/documents.parquet'")
    return {q: con.sql(s).df() for q, s in sql.items()}


def ensure_inputs(
    cache: str, workload: str, seed: int, size: str, oracle_sql: dict[str, str]
) -> str:
    """Generate the inputs for (workload, seed, size) once into ``cache``
    and return their directory. The DuckDB oracle frames of the catalog
    queries (``oracle_sql``) are stored next to the inputs, so that no
    run computes them inside its timed region. The directory name holds
    a hash of this file, the parameters and the oracle SQL: a change to
    any of them generates afresh instead of reusing stale inputs."""
    params = PARAMS[workload][size]
    key = hashlib.sha256()
    with open(__file__, "rb") as f:
        key.update(f.read())
    key.update(json.dumps([params, oracle_sql], sort_keys=True).encode())
    out = os.path.join(cache, f"{workload}-{size}-s{seed}-{key.hexdigest()[:16]}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        return out
    os.makedirs(out, exist_ok=True)
    meta = GENERATORS[workload](out, params, seed)
    for name, frame in _oracle_frames(out, oracle_sql).items():
        frame.to_pickle(os.path.join(out, f"oracle-{name}.pkl"))
    meta.update(params=params, seed=seed, input_bytes=input_bytes(out))
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(meta_path + ".tmp", meta_path)
    return out


def read_meta(out: str) -> dict:
    with open(os.path.join(out, "meta.json")) as f:
        return json.load(f)


def oracle_frame(out: str, name: str) -> pd.DataFrame:
    return pd.read_pickle(os.path.join(out, f"oracle-{name}.pkl"))
