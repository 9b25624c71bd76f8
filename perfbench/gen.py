"""Seeded input generators for the benchmark.

Everything the engine reads during a benchmark run is written here, from
``--seed``, before the engine is imported or timed. The engine sees only
the files. Each generator also returns the facts the output checks need
(row counts the generator knows by construction).

Two input families:

- ``corpus``: documents and embeddings, the tables the curation and
  release queries read, with the value domains of the shared test data
  (TESTDATA.md).
- ``medallion``: FDIC-shaped JSON and NCUA-shaped CSV bronze files
  (FIXTURES.md A1-A5), with malformed dates, NULL/empty websites, bad
  state codes and duplicate financial rows, so that quarantine and keyed
  dedup do real work.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def corpus(out_dir: str, rng, n_docs: int, n_vecs: int, keep_frac: float = 1.0) -> dict:
    """documents + embeddings. About 5% of documents are near-duplicates
    (another document's text plus one word) and a few are exact copies,
    so dedup, MinHash and release curation find real pairs.

    With ``keep_frac < 1`` a seeded hash sample of that share of rows is
    kept, and rows are written in shuffled order."""
    os.makedirs(out_dir, exist_ok=True)
    n_base = int(round(n_docs / keep_frac))
    lens = rng.integers(10, 101, n_base)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in np.flatnonzero(rng.random(n_base) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_base))] + " dup"
    for i in np.flatnonzero(rng.random(n_base) < 0.002):
        texts[i] = texts[int(rng.integers(0, n_base))]
    n_vbase = int(round(n_vecs / keep_frac))
    emb = rng.standard_normal((n_vbase, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_base), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_base, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_base)], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = pa.table({
        "vec_id": pa.array(np.arange(n_vbase), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vbase), pa.int32()),
    })
    if keep_frac < 1.0:
        docs = _sample_shuffle(docs, rng, keep_frac)
        vecs = _sample_shuffle(vecs, rng, keep_frac)
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    pq.write_table(vecs, f"{out_dir}/embeddings.parquet")
    return {"documents": docs.num_rows, "embeddings": vecs.num_rows}


def _sample_shuffle(tbl: pa.Table, rng, frac: float) -> pa.Table:
    salt = int(rng.integers(1, 2**31))
    ids = np.arange(tbl.num_rows, dtype=np.uint64)
    h = (ids * np.uint64(0x9E3779B97F4A7C15) + np.uint64(salt)) >> np.uint64(40)
    keep = np.flatnonzero(h % np.uint64(1000) < int(frac * 1000))
    return tbl.take(pa.array(rng.permutation(keep)))


# ---------------------------------------------------------------------------
# Medallion bronze (FIXTURES.md A1-A5)
# ---------------------------------------------------------------------------

STATES = {
    "AL": "Alabama", "AK": "Alaska", "AZ": "Arizona", "AR": "Arkansas",
    "CA": "California", "CO": "Colorado", "CT": "Connecticut", "DE": "Delaware",
    "FL": "Florida", "GA": "Georgia", "HI": "Hawaii", "ID": "Idaho",
    "IL": "Illinois", "IN": "Indiana", "IA": "Iowa", "KS": "Kansas",
    "KY": "Kentucky", "LA": "Louisiana", "ME": "Maine", "MD": "Maryland",
    "MA": "Massachusetts", "MI": "Michigan", "MN": "Minnesota", "MS": "Mississippi",
    "MO": "Missouri", "MT": "Montana", "NE": "Nebraska", "NV": "Nevada",
    "NH": "New Hampshire", "NJ": "New Jersey", "NM": "New Mexico", "NY": "New York",
    "NC": "North Carolina", "ND": "North Dakota", "OH": "Ohio", "OK": "Oklahoma",
    "OR": "Oregon", "PA": "Pennsylvania", "RI": "Rhode Island", "SC": "South Carolina",
    "SD": "South Dakota", "TN": "Tennessee", "TX": "Texas", "UT": "Utah",
    "VT": "Vermont", "VA": "Virginia", "WA": "Washington", "WV": "West Virginia",
    "WI": "Wisconsin", "WY": "Wyoming", "DC": "District Of Columbia",
    "GU": "Guam", "PR": "Puerto Rico", "VI": "Virgin Islands",
}
CITY_WORDS = ["mc lean", "new york", "austin", "fort worth", "salt lake city", "boise",
              "st louis", "des moines", "san juan", "el paso", "grand rapids", "dover"]
BAD_RATE = 0.05  # malformed dates, per FIXTURES.md A1/A2


def _quarter_ends(n_quarters: int) -> list[dt.date]:
    out, y, q = [], 2024, 4
    for _ in range(n_quarters):
        m = q * 3
        out.append(dt.date(y, m, 31 if m in (3, 12) else 30))
        q -= 1
        if q == 0:
            y, q = y - 1, 4
    return out[::-1]


def _mixcase(rng, values: np.ndarray) -> np.ndarray:
    """Random upper/lower/as-is variants of each value (case rules must fold them)."""
    pick = rng.integers(0, 3, len(values))
    return np.where(pick == 0, np.char.upper(values),
                    np.where(pick == 1, np.char.lower(values), values))


def medallion(out_dir: str, seed: int, n_banks: int, n_cus: int, n_quarters: int) -> dict:
    """Write the five bronze inputs and return the row counts the silver,
    quarantine and gold outputs must have.

    Faults planted per source (all counted into the expected quarantine):
    FDIC directory: 10% inactive (filtered, not quarantined); FDIC
    financials: 5% malformed REPDTE, 1%
    duplicated (CERT, REPDTE) rows with another ASSET; NCUA FOICU: 2% of
    credit unions carry an unknown state code, 5% malformed CYCLE_DATE;
    FS220 and FS220D: 5% malformed CYCLE_DATE. Websites are 10% NULL and
    10% empty.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    quarters = _quarter_ends(n_quarters)
    Q = len(quarters)
    abbrs = np.array(list(STATES))
    full = np.array([STATES[a] for a in abbrs])

    # ---- FDIC directory (A1) ------------------------------------------------
    cert = rng.choice(np.arange(1, 100_000), n_banks, replace=False)
    active = rng.random(n_banks) < 0.9
    b_state = rng.integers(0, len(abbrs), n_banks)
    b_city = np.array(CITY_WORDS)[rng.integers(0, len(CITY_WORDS), n_banks)]
    b_name = np.char.add("FIRST BANK OF ", np.char.upper(b_city))
    b_name = np.char.add(np.char.add(b_name, " "), cert.astype(str))
    b_web_kind = rng.integers(0, 10, n_banks)  # 0 -> NULL, 1 -> '', else url
    b_web = np.char.add(np.char.add("www.bank", cert.astype(str)), ".com")
    repdte_ok = [f"{q.month}/{q.day}/{q.year}" for q in quarters]
    inst_rows = []
    cert_str = cert.astype(str)
    for i in range(n_banks):
        web = None if b_web_kind[i] == 0 else ("" if b_web_kind[i] == 1 else b_web[i].upper())
        r = rng.random()
        rep = repdte_ok[-1] if r >= BAD_RATE else ("" if r < BAD_RATE / 2 else "2020-03-31")
        inst_rows.append({
            "ACTIVE": "1" if active[i] else "0", "CERT": cert_str[i],
            "CITY": str(_mixcase(rng, b_city[i:i + 1])[0]), "ID": str(i),
            "NAME": str(b_name[i]).lower() if i % 2 else str(b_name[i]),
            "REPDTE": rep, "STNAME": str(_mixcase(rng, full[b_state[i]:b_state[i] + 1])[0]),
            "WEBADDR": web,
        })
    _write_jsonl(f"{out_dir}/fdic_institutions", inst_rows)

    # ---- FDIC financials (A2): one row per (bank, quarter) --------------------
    fb = np.repeat(np.arange(n_banks), Q)
    fq = np.tile(np.arange(Q), n_banks)
    fin_bad = rng.random(len(fb)) < BAD_RATE
    fin_dup = (rng.random(len(fb)) < 0.01) & ~fin_bad
    fin_idx = np.concatenate([np.arange(len(fb)), np.flatnonzero(fin_dup)])
    assets = rng.integers(10_000, 5_000_000, len(fin_idx))
    deps = (assets * rng.uniform(0.5, 0.9, len(fin_idx))).astype(np.int64)
    rep_ok = np.array([q.strftime("%Y%m%d") for q in quarters])
    rep = np.where(fin_bad[fin_idx], np.array(["2020-03-31", "3/31/2020"])[fin_idx % 2],
                   rep_ok[fq[fin_idx]])
    order = rng.permutation(len(fin_idx))
    fin_rows = [
        {"ASSET": str(assets[j]), "CERT": str(cert[fb[fin_idx[j]]]), "DEP": str(deps[j]),
         "ID": str(j), "REPDTE": str(rep[j])}
        for j in order
    ]
    _write_jsonl(f"{out_dir}/fdic_financials", fin_rows)

    # ---- NCUA (A3-A5): one row per (credit union, cycle) in each file --------
    cu = rng.choice(np.arange(1, 100_000), n_cus, replace=False)
    cu_state = rng.integers(0, len(abbrs), n_cus)
    cu_badstate = rng.random(n_cus) < 0.02
    cu_city = np.array(CITY_WORDS)[rng.integers(0, len(CITY_WORDS), n_cus)]
    cu_name = np.char.add(np.char.add("CU OF ", np.char.upper(cu_city)), cu.astype(str))
    cu_web_kind = rng.integers(0, 10, n_cus)
    cu_web = np.char.add(np.char.add("www.cu", cu.astype(str)), ".org")
    cb = np.repeat(np.arange(n_cus), Q)
    cq = np.tile(np.arange(Q), n_cus)
    n = len(cb)
    cyc_ok = np.array([f"{q.month}/{q.day:02d}/{q.year} 0:00:00" for q in quarters])

    def cycle(bad):
        return np.where(bad, np.array(["2020-03-31 00:00:00", ""])[np.arange(n) % 2], cyc_ok[cq])

    foicu_bad = rng.random(n) < BAD_RATE
    fs220_bad = rng.random(n) < BAD_RATE
    fs220d_bad = rng.random(n) < BAD_RATE
    st = np.where(cu_badstate[cb], "ZZ", abbrs[cu_state[cb]])
    perm = rng.permutation(n)
    _write_csv(f"{out_dir}/ncua_foicu", perm, {
        "CU_NUMBER": cu[cb], "CU_NAME": _mixcase(rng, cu_name[cb]),
        "CITY": _mixcase(rng, cu_city[cb]), "STATE": st, "CYCLE_DATE": cycle(foicu_bad),
        "CU_TYPE": rng.integers(1, 4, n), "REGION": rng.integers(1, 6, n),
    })
    a010 = rng.integers(5_000, 2_000_000, n)
    _write_csv(f"{out_dir}/ncua_fs220", rng.permutation(n), {
        "CU_NUMBER": cu[cb], "CYCLE_DATE": cycle(fs220_bad), "ACCT_010": a010,
        "ACCT_018": (a010 * 0.8).astype(np.int64), "ACCT_671": rng.integers(0, 1000, n),
    })
    wk = cu_web_kind[cb]
    web = np.where(wk == 0, None, np.where(wk == 1, "", np.char.upper(cu_web[cb]))).astype(object)
    _write_csv(f"{out_dir}/ncua_fs220d", rng.permutation(n), {
        "CU_NUMBER": cu[cb], "CYCLE_DATE": cycle(fs220d_bad), "Acct_891": web,
    })

    # ---- what the outputs must hold ---------------------------------------------
    bank_ok = active
    fin_ok = ~fin_bad  # duplicates share their original's validity
    bank_silver = bank_ok[fb] & fin_ok
    foicu_ok = ~foicu_bad & ~cu_badstate[cb]
    cu_silver = foicu_ok & ~fs220_bad
    silver_state = np.concatenate([b_state[fb][bank_silver], cu_state[cb][cu_silver]])
    silver_q = np.concatenate([fq[bank_silver], cq[cu_silver]])
    # directory rows: one per institution and distinct website; a credit
    # union with a URL falls back to 'Not Provided' in quarters whose FS220D
    # row is quarantined
    has_url = cu_web_kind[cb] >= 2
    cu_dir = set(zip(cb[cu_silver], np.where(has_url & ~fs220d_bad, 1, 0)[cu_silver]))
    n_banks_silver = int(bank_ok[np.unique(fb[bank_silver])].sum())
    n_cus_silver = len(np.unique(cb[cu_silver]))
    quarantine = (
        int(fin_bad[fin_idx].sum())
        + int((~foicu_ok).sum()) + int(fs220_bad.sum()) + int(fs220d_bad.sum())
    )
    slice_counts = {}
    for s_i, q_i in zip(silver_state, silver_q):
        slice_counts[(int(s_i), int(q_i))] = slice_counts.get((int(s_i), int(q_i)), 0) + 1
    slices = [
        {"year": quarters[q].year, "quarter": (quarters[q].month - 1) // 3 + 1,
         "state": str(full[s]), "rows": c}
        for (s, q), c in sorted(slice_counts.items())
    ]
    return {
        "bronze_rows": n_banks + len(fin_idx) + 3 * n,
        "silver_rows": int(bank_silver.sum() + cu_silver.sum()),
        "quarantine_rows": quarantine,
        "directory_rows": n_banks_silver + len(cu_dir),
        "pivot_rows": n_banks_silver + n_cus_silver,
        "quarters": [q.isoformat() for q in quarters],
        "slices": slices,
    }


def _write_jsonl(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/part-0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def _write_csv(path: str, order: np.ndarray, cols: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tbl = pa.table({k: pa.array(np.asarray(v, dtype=object)[order]
                                if np.asarray(v).dtype.kind in "OU" else np.asarray(v)[order])
                    for k, v in cols.items()})
    pacsv.write_csv(tbl, f"{path}/part-0.csv")
